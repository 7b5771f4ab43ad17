"""Corpus-assembly inventory: repetition signals, decontamination,
shard shuffle, sequence packing, composition stats (operators/corpus.py).

Parity notes (see inventory_pipeline.py for the general rules):
  * shard/bucket ids come from md5 hex prefixes (engine-portable), cast to
    BIGINT on both sides;
  * length buckets use bit length (integer space), not log2 (libm);
  * fractions divide two integers once and round 6 — a single IEEE division
    of identical integers is bit-identical across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kstream_spark.builder import StreamBuilder
from kstream_spark.functions.text import RE2_WS
from kstream_spark.operators import corpus as C

# clean words: whitespace split with empty tokens dropped (both engines)
_CW = ("cw AS (SELECT doc_id, list_filter(string_split_regex(lower(text), "
       f"'{RE2_WS}'), x -> x <> '') AS ws FROM documents)")


def _docs(spark: SparkSession, sf: str) -> DataFrame:
    return StreamBuilder(spark).table(f"{sf}/documents.parquet",
                                      name="documents").to_df()


# -- repetition signals -----------------------------------------------------
def q_text_repetition(spark: SparkSession, sf: str) -> DataFrame:
    return C.repetition_stats(_docs(spark, sf), "doc_id", "text")


SQL_TEXT_REPETITION = f"""
WITH {_CW},
g AS (SELECT doc_id, ws,
        CASE WHEN len(ws) >= 2 THEN list_transform(range(1, len(ws)),
               i -> array_to_string(ws[i:i+1], ' ')) ELSE [] END AS g2,
        CASE WHEN len(ws) >= 3 THEN list_transform(range(1, len(ws) - 1),
               i -> array_to_string(ws[i:i+2], ' ')) ELSE [] END AS g3
      FROM cw),
wc AS (SELECT doc_id, wd, count(*) AS c
       FROM (SELECT doc_id, unnest(ws) AS wd FROM cw) u GROUP BY 1, 2),
top AS (SELECT doc_id, max(c) AS topc FROM wc GROUP BY doc_id)
SELECT g.doc_id, CAST(len(ws) AS BIGINT) AS n_words,
       round(coalesce(topc, 0) / greatest(len(ws), 1), 6) AS top_word_frac,
       CASE WHEN len(g2) > 0
            THEN round(1.0 - len(list_distinct(g2)) / len(g2), 6)
            ELSE 0.0 END AS dup_2gram_frac,
       CASE WHEN len(g3) > 0
            THEN round(1.0 - len(list_distinct(g3)) / len(g3), 6)
            ELSE 0.0 END AS dup_3gram_frac
FROM g LEFT JOIN top ON g.doc_id = top.doc_id
"""


# -- benchmark decontamination ----------------------------------------------
def q_text_decontaminate(spark: SparkSession, sf: str) -> DataFrame:
    """Contamination report vs a held-out 'benchmark' slice (every 50th doc
    stands in for the eval set — benchmarks are small and broadcastable)."""
    docs = _docs(spark, sf)
    ev = docs.filter(F.col("doc_id") % 50 == 0)
    train = docs.filter(F.col("doc_id") % 50 != 0)
    return C.decontaminate(train, "doc_id", "text", ev, "doc_id", "text", n=3)


SQL_TEXT_DECONTAMINATE = f"""
WITH w AS (SELECT doc_id, string_split_regex(lower(text), '{RE2_WS}') AS words
           FROM documents),
sh AS (SELECT DISTINCT doc_id,
         md5('decon:' || unnest(list_transform(
             range(1, greatest(len(words) - 2, 0) + 1),
             i -> array_to_string(words[i:i+2], ' ')))) AS h
       FROM w),
ev AS (SELECT DISTINCT doc_id AS eval_id, h FROM sh WHERE doc_id % 50 = 0),
tr AS (SELECT doc_id, h FROM sh WHERE doc_id % 50 <> 0)
SELECT tr.doc_id,
       count(DISTINCT tr.h) AS n_shared,
       count(DISTINCT ev.eval_id) AS n_eval_docs
FROM tr JOIN ev ON tr.h = ev.h
GROUP BY tr.doc_id
"""


# -- deterministic shard shuffle --------------------------------------------
def q_corpus_shuffle(spark: SparkSession, sf: str) -> DataFrame:
    return C.shuffle_shards(_docs(spark, sf), "doc_id", n_shards=8,
                            seed="42").select("doc_id", "shard", "pos")


SQL_CORPUS_SHUFFLE = """
WITH h AS (SELECT doc_id, md5('42:' || CAST(doc_id AS VARCHAR)) AS hx
           FROM documents),
s AS (SELECT doc_id, hx,
        CAST(CAST(('0x' || substr(hx, 1, 8)) AS UBIGINT) % 8 AS BIGINT)
          AS shard
      FROM h)
SELECT doc_id, shard,
       CAST(row_number() OVER (PARTITION BY shard ORDER BY hx, doc_id)
            AS BIGINT) AS pos
FROM s
"""


# -- sequence packing --------------------------------------------------------
def q_corpus_pack(spark: SparkSession, sf: str) -> DataFrame:
    return C.pack_chunks(_docs(spark, sf), "doc_id", "text",
                         capacity=256, n_shards=8)


SQL_CORPUS_PACK = f"""
WITH {_CW},
t AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS tokens,
        CAST(CAST(('0x' || substr(md5('pack:' || CAST(doc_id AS VARCHAR)),
                                  1, 8)) AS UBIGINT) % 8 AS BIGINT) AS shard
      FROM cw),
c AS (SELECT doc_id, shard, tokens,
        CAST(sum(tokens) OVER (PARTITION BY shard ORDER BY doc_id)
             AS BIGINT) AS cum
      FROM t)
SELECT doc_id, shard, tokens,
       CAST(floor(CASE WHEN tokens = 0 THEN greatest(cum - 1, 0)
                       ELSE cum - tokens END / 256.0) AS BIGINT)
         AS chunk_first,
       CAST(floor(CASE WHEN tokens = 0 THEN greatest(cum - 1, 0)
                       ELSE cum - 1 END / 256.0) AS BIGINT) AS chunk_last
FROM c
"""


# -- composition stats -------------------------------------------------------
def q_corpus_stats(spark: SparkSession, sf: str) -> DataFrame:
    return C.corpus_stats(_docs(spark, sf), "text", "lang", "n_chars")


SQL_CORPUS_STATS = f"""
WITH {_CW},
d AS (SELECT doc_id, lang, n_chars FROM documents)
SELECT lang, CAST(length(bin(n_chars)) - 1 AS BIGINT) AS len_bucket,
       count(*) AS n_docs,
       CAST(sum(len(ws)) AS BIGINT) AS total_tokens,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM d JOIN cw USING (doc_id)
GROUP BY 1, 2
"""


# -- temperature domain mixing ----------------------------------------------
def q_corpus_domain_mix(spark: SparkSession, sf: str) -> DataFrame:
    """sqrt-temperature rebalance over languages (operators/sampling.domain_mix):
    rarest language keeps 100%, others keep sqrt(n_min/n_d) by id-hash."""
    from kstream_spark.operators.sampling import domain_mix
    return domain_mix(_docs(spark, sf), "doc_id", "lang") \
        .select("doc_id", "lang", "n_domain", "keep_frac")


SQL_CORPUS_DOMAIN_MIX = """
WITH c AS (SELECT lang, count(*) AS n_domain FROM documents GROUP BY lang),
w AS (SELECT lang, n_domain,
        round(sqrt((SELECT min(n_domain) FROM c) * 1.0 / n_domain), 6)
          AS keep_frac
      FROM c)
SELECT d.doc_id, d.lang, w.n_domain, w.keep_frac
FROM documents d JOIN w USING (lang)
WHERE CAST(CAST(('0x' || substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 8))
                AS UBIGINT) % 1000000 AS BIGINT)
      < CAST(floor(keep_frac * 1000000) AS BIGINT)
"""


# -- per-domain token budgets -------------------------------------------------
def q_corpus_token_budget(spark: SparkSession, sf: str) -> DataFrame:
    """Greedy deterministic fill: keep docs per language in md5 order until
    2000 cumulative tokens (operators/sampling.token_budget)."""
    from kstream_spark.operators.sampling import token_budget
    docs = _docs(spark, sf).select(
        "doc_id", "lang",
        F.size(F.filter(F.split(F.lower(F.col("text")), r"\s+"),
                        lambda w: w != F.lit(""))).cast("long").alias("tokens"))
    return token_budget(docs, "doc_id", "lang", "tokens", budget=2000) \
        .select("doc_id", "lang", "tokens", "cum_tokens")


SQL_CORPUS_TOKEN_BUDGET = f"""
WITH {_CW},
t AS (SELECT d.doc_id, d.lang, CAST(len(cw.ws) AS BIGINT) AS tokens,
        md5('budget:' || CAST(d.doc_id AS VARCHAR)) AS h
      FROM documents d JOIN cw ON d.doc_id = cw.doc_id),
c AS (SELECT doc_id, lang, tokens,
        CAST(sum(tokens) OVER (PARTITION BY lang ORDER BY h, doc_id)
             AS BIGINT) AS cum_tokens,
        row_number() OVER (PARTITION BY lang ORDER BY h, doc_id) AS rn
      FROM t)
SELECT doc_id, lang, tokens, cum_tokens FROM c
WHERE cum_tokens <= 2000 OR rn = 1
"""


CORPUS_INVENTORY: dict[str, tuple] = {
    "text_repetition": (q_text_repetition, SQL_TEXT_REPETITION),
    "text_decontaminate": (q_text_decontaminate, SQL_TEXT_DECONTAMINATE),
    "corpus_shuffle": (q_corpus_shuffle, SQL_CORPUS_SHUFFLE),
    "corpus_pack": (q_corpus_pack, SQL_CORPUS_PACK),
    "corpus_stats": (q_corpus_stats, SQL_CORPUS_STATS),
    "corpus_domain_mix": (q_corpus_domain_mix, SQL_CORPUS_DOMAIN_MIX),
    "corpus_token_budget": (q_corpus_token_budget, SQL_CORPUS_TOKEN_BUDGET),
}


# -- composed end-to-end corpus assembly -------------------------------------
def q_pipeline_pretraining_corpus(spark: SparkSession, sf: str) -> DataFrame:
    """The full corpus-assembly pipeline composed end-to-end: repetition
    quality gate -> benchmark decontamination (anti-join) -> sqrt-
    temperature domain mixing -> per-language token budget -> deterministic
    shard shuffle -> sequence packing along the shuffled order.  Every
    stage is the already-oracle-checked operator; this query checks their
    COMPOSITION (and that packing reuses the shuffle's (shard, pos) layout
    instead of re-hashing)."""
    from kstream_spark.operators.sampling import domain_mix, token_budget
    docs = _docs(spark, sf)
    rep = C.repetition_stats(docs, "doc_id", "text")
    good = docs.join(
        rep.filter((F.col("dup_2gram_frac") < 0.2)
                   & (F.col("top_word_frac") < 0.3)).select("doc_id"),
        "doc_id")
    ev = docs.filter(F.col("doc_id") % 50 == 0)
    train = good.filter(F.col("doc_id") % 50 != 0)
    contaminated = C.decontaminate(train, "doc_id", "text",
                                   ev, "doc_id", "text", n=3) \
        .select("doc_id")
    clean = train.join(contaminated, "doc_id", "left_anti")
    mixed = domain_mix(clean, "doc_id", "lang") \
        .select("doc_id", "lang", "text")
    toks = mixed.withColumn(
        "tokens",
        F.size(F.filter(F.split(F.lower(F.col("text")), r"\s+"),
                        lambda w: w != F.lit(""))).cast("long"))
    budgeted = token_budget(toks, "doc_id", "lang", "tokens", budget=2000) \
        .select("doc_id", "lang", "text", "tokens")
    sharded = C.shuffle_shards(budgeted, "doc_id", n_shards=4, seed="42")
    packed = C.pack_chunks(sharded, "doc_id", "text", capacity=256,
                           shard_col="shard", order_col="pos")
    return (packed.join(sharded.select("doc_id", "lang", "pos"), "doc_id")
            .select("doc_id", "lang", "shard", "pos", "tokens",
                    "chunk_first", "chunk_last"))


SQL_PIPELINE_PRETRAINING_CORPUS = f"""
WITH {_CW},
g AS (SELECT doc_id, ws,
        CASE WHEN len(ws) >= 2 THEN list_transform(range(1, len(ws)),
               i -> array_to_string(ws[i:i+1], ' ')) ELSE [] END AS g2
      FROM cw),
wc AS (SELECT doc_id, wd, count(*) AS c
       FROM (SELECT doc_id, unnest(ws) AS wd FROM cw) u GROUP BY 1, 2),
top AS (SELECT doc_id, max(c) AS topc FROM wc GROUP BY doc_id),
rep AS (SELECT g.doc_id,
          round(coalesce(topc, 0) / greatest(len(ws), 1), 6) AS twf,
          CASE WHEN len(g2) > 0
               THEN round(1.0 - len(list_distinct(g2)) / len(g2), 6)
               ELSE 0.0 END AS dup2
        FROM g LEFT JOIN top ON g.doc_id = top.doc_id),
good AS (SELECT d.doc_id, d.lang FROM documents d JOIN rep USING (doc_id)
         WHERE rep.dup2 < 0.2 AND rep.twf < 0.3),
w3 AS (SELECT doc_id, string_split_regex(lower(text), '{RE2_WS}') AS words
       FROM documents),
sh AS (SELECT DISTINCT doc_id,
         md5('decon:' || unnest(list_transform(
             range(1, greatest(len(words) - 2, 0) + 1),
             i -> array_to_string(words[i:i+2], ' ')))) AS h
       FROM w3),
evh AS (SELECT DISTINCT h FROM sh WHERE doc_id % 50 = 0),
contaminated AS (SELECT DISTINCT sh.doc_id FROM sh JOIN evh USING (h)
                 WHERE sh.doc_id % 50 <> 0),
clean AS (SELECT * FROM good
          WHERE doc_id % 50 <> 0
            AND doc_id NOT IN (SELECT doc_id FROM contaminated)),
counts AS (SELECT lang, count(*) AS n_domain FROM clean GROUP BY lang),
wts AS (SELECT lang, round(sqrt((SELECT min(n_domain) FROM counts) * 1.0
                               / n_domain), 6) AS keep_frac
        FROM counts),
mixed AS (SELECT c.doc_id, c.lang FROM clean c JOIN wts USING (lang)
          WHERE CAST(CAST(('0x' || substr(md5('mix:' ||
                     CAST(doc_id AS VARCHAR)), 1, 8)) AS UBIGINT)
                     % 1000000 AS BIGINT)
                < CAST(floor(keep_frac * 1000000) AS BIGINT)),
tok AS (SELECT m.doc_id, m.lang, CAST(len(cw.ws) AS BIGINT) AS tokens,
          md5('budget:' || CAST(m.doc_id AS VARCHAR)) AS bh
        FROM mixed m JOIN cw ON m.doc_id = cw.doc_id),
bud AS (SELECT doc_id, lang, tokens,
          CAST(sum(tokens) OVER (PARTITION BY lang ORDER BY bh, doc_id)
               AS BIGINT) AS cum,
          row_number() OVER (PARTITION BY lang ORDER BY bh, doc_id) AS rn
        FROM tok),
kept AS (SELECT doc_id, lang, tokens FROM bud WHERE cum <= 2000 OR rn = 1),
sharded AS (SELECT doc_id, lang, tokens,
              md5('42:' || CAST(doc_id AS VARCHAR)) AS hx,
              CAST(CAST(('0x' || substr(md5('42:' ||
                   CAST(doc_id AS VARCHAR)), 1, 8)) AS UBIGINT)
                   % 4 AS BIGINT) AS shard
            FROM kept),
pos AS (SELECT doc_id, lang, tokens, shard,
          CAST(row_number() OVER (PARTITION BY shard ORDER BY hx, doc_id)
               AS BIGINT) AS pos
        FROM sharded),
packed AS (SELECT doc_id, lang, shard, pos, tokens,
             CAST(sum(tokens) OVER (PARTITION BY shard ORDER BY pos)
                  AS BIGINT) AS cum
           FROM pos)
SELECT doc_id, lang, shard, pos, tokens,
       CAST(floor(CASE WHEN tokens = 0 THEN greatest(cum - 1, 0)
                       ELSE cum - tokens END / 256.0) AS BIGINT)
         AS chunk_first,
       CAST(floor(CASE WHEN tokens = 0 THEN greatest(cum - 1, 0)
                       ELSE cum - 1 END / 256.0) AS BIGINT) AS chunk_last
FROM packed
"""


CORPUS_INVENTORY["pipeline_pretraining_corpus"] = (
    q_pipeline_pretraining_corpus, SQL_PIPELINE_PRETRAINING_CORPUS)


# -- tokenizer-training statistics -------------------------------------------
def q_text_vocab_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Vocabulary construction: global token counts, top-200 — one
    map-side-combinable aggregation + TakeOrdered (operators/text.py
    vocab_top_terms)."""
    from kstream_spark.operators.text import vocab_top_terms
    return vocab_top_terms(_docs(spark, sf), "text", top_v=200)


SQL_TEXT_VOCAB_TOPK = rf"""
WITH t AS (SELECT unnest(string_split_regex(lower(text), '{RE2_WS}')) AS token
           FROM documents)
SELECT token, CAST(count(*) AS BIGINT) AS cnt
FROM t WHERE token <> ''
GROUP BY token ORDER BY cnt DESC, token ASC LIMIT 200
"""

CORPUS_INVENTORY["text_vocab_topk"] = (q_text_vocab_topk, SQL_TEXT_VOCAB_TOPK)


def q_text_bpe_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """BPE merge statistics: adjacent char-pair frequencies weighted by
    word frequency, top-50 — the per-round aggregation of BPE tokenizer
    training, run over DISTINCT words (operators/text.bpe_pair_counts)."""
    from kstream_spark.operators.text import bpe_pair_counts
    return bpe_pair_counts(_docs(spark, sf), "text", top_k=50)


SQL_TEXT_BPE_PAIRS = rf"""
WITH t AS (SELECT unnest(string_split_regex(lower(text), '{RE2_WS}')) AS w
           FROM documents),
wf AS (SELECT w, CAST(count(*) AS BIGINT) AS wf
       FROM t WHERE length(w) >= 2 GROUP BY w),
p AS (SELECT unnest(list_transform(range(1, length(w)),
                                   i -> substr(w, i, 2))) AS pair, wf
      FROM wf)
SELECT pair, CAST(sum(wf) AS BIGINT) AS cnt
FROM p GROUP BY pair ORDER BY cnt DESC, pair ASC LIMIT 50
"""

CORPUS_INVENTORY["text_bpe_pairs"] = (q_text_bpe_pairs, SQL_TEXT_BPE_PAIRS)


_BPE_TRAIN_MERGES = 6


def q_text_bpe_train(spark: SparkSession, sf: str) -> DataFrame:
    """Full iterative BPE training loop: merge the top pair, RECOUNT,
    repeat — one |vocab|-sized aggregation per round
    (operators/text.bpe_train; text_bpe_pairs is one round's statistic)."""
    from kstream_spark.operators.text import bpe_train
    return bpe_train(_docs(spark, sf), "text", n_merges=_BPE_TRAIN_MERGES)


def _sql_bpe_train(n: int) -> str:
    """Unroll n BPE merge rounds as chained CTEs — DuckDB replays the
    exact count -> pick -> merge -> recount sequence the Spark loop runs
    (same delimiter-doubling triple-replace, which realizes the greedy
    leftmost-first non-overlapping Sennrich scan — consecutive
    occurrences of a repeated pair all merge; same (cnt desc, pair asc)
    winner)."""
    parts = [rf"""
WITH t AS (SELECT unnest(string_split_regex(lower(text), '{RE2_WS}')) AS w
           FROM documents),
wf AS (SELECT w, CAST(count(*) AS BIGINT) AS wf
       FROM t WHERE length(w) >= 2 GROUP BY w),
s0 AS (SELECT ' ' || regexp_replace(w, '(.)', '\1 ', 'g') AS seq, wf
       FROM wf)"""]
    for r in range(1, n + 1):
        prev = f"s{r - 1}"
        parts.append(f""",
p{r} AS (SELECT pair, CAST(sum(wf) AS BIGINT) AS cnt
  FROM (SELECT wf, unnest(list_transform(
            range(1, len(string_split(trim(seq), ' '))),
            i -> string_split(trim(seq), ' ')[i] || ' '
                 || string_split(trim(seq), ' ')[i + 1])) AS pair
        FROM {prev} WHERE len(string_split(trim(seq), ' ')) > 1)
  GROUP BY pair),
b{r} AS (SELECT pair, replace(pair, ' ', '') AS merged, cnt
  FROM p{r} ORDER BY cnt DESC, pair ASC LIMIT 1),
s{r} AS (SELECT replace(replace(replace(seq, ' ', '  '),
                        ' ' || replace(b.pair, ' ', '  ') || ' ',
                        ' ' || b.merged || ' '),
                        '  ', ' ') AS seq, wf
  FROM {prev}, b{r} b)""")
    union = "\nUNION ALL ".join(
        f"SELECT CAST({r} AS BIGINT) AS merge_rank, pair, merged, cnt "
        f"FROM b{r}" for r in range(1, n + 1))
    parts.append(f"\n{union}")
    return "".join(parts)


CORPUS_INVENTORY["text_bpe_train"] = (q_text_bpe_train,
                                      _sql_bpe_train(_BPE_TRAIN_MERGES))


def q_text_bpe_tokenize(spark: SparkSession, sf: str) -> DataFrame:
    """Tokenizer INFERENCE with the learned merges: train bpe_train's 6
    merges, apply them to the corpus word VOCABULARY weighted by word
    frequency, and report the top-50 (token, cnt) of the resulting
    corpus tokenization.  The merge chain is a pure per-word function,
    so sum over documents of its tokens == sum over distinct words of
    count(word) * tokens(word) — the identity the oracle SQL below
    already exploits; running the replace-chain projection once per
    DISTINCT word instead of once per occurrence turns the corpus-sized
    string pass into one map-side-combinable word count plus a
    vocab-sized projection (at 100 TB: |vocab| << |occurrences|)."""
    from kstream_spark.operators.text import bpe_tokenize, bpe_train
    from pyspark.sql import functions as F
    docs = _docs(spark, sf)
    merges = [r["pair"] for r in
              bpe_train(docs, "text", n_merges=_BPE_TRAIN_MERGES)
              .orderBy("merge_rank").collect()]
    wf = (docs.select(F.explode(
        F.split(F.lower(F.col("text")), r"\s+")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w").agg(F.count("*").cast("long").alias("awf")))
    # words("w") == [w] for a single already-lowercased token, so the
    # operator's per-word chain applies verbatim to the vocab relation
    tokv = bpe_tokenize(wf, "w", merges)
    return (tokv.select(F.explode("tokens").alias("token"), "awf")
            .groupBy("token").agg(F.sum("awf").cast("long").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("token")).limit(50))


def _sql_bpe_tokenize(n: int) -> str:
    """Replays training (the _sql_bpe_train chain), then applies the n
    merges IN ORDER to the full vocabulary — including the length-1
    words training excludes — and counts tokens weighted by word
    frequency (identical to per-document tokenization, since the merge
    chain is a pure per-word function)."""
    train = _sql_bpe_train(n)
    train_ctes = train.split("\nUNION ALL ")[0]  # keep CTEs, drop SELECT
    # drop the first bN SELECT line that followed the last CTE
    train_ctes = train_ctes.rsplit("\nSELECT CAST(", 1)[0]
    apply_ctes = [f""",
w0 AS (SELECT w, CAST(count(*) AS BIGINT) AS awf
       FROM t WHERE w <> '' GROUP BY w),
a0 AS (SELECT ' ' || regexp_replace(w, '(.)', '\\1 ', 'g') AS seq, awf
       FROM w0)"""]
    for r in range(1, n + 1):
        apply_ctes.append(f""",
a{r} AS (SELECT replace(replace(replace(seq, ' ', '  '),
                        ' ' || replace(b.pair, ' ', '  ') || ' ',
                        ' ' || b.merged || ' '),
                        '  ', ' ') AS seq, awf
         FROM a{r - 1}, b{r} b)""")
    return f"""{train_ctes}{''.join(apply_ctes)}
SELECT token, CAST(sum(awf) AS BIGINT) AS cnt
FROM (SELECT unnest(string_split(trim(seq), ' ')) AS token, awf
      FROM a{n})
WHERE token <> ''
GROUP BY token ORDER BY cnt DESC, token ASC LIMIT 50
"""


CORPUS_INVENTORY["text_bpe_tokenize"] = (q_text_bpe_tokenize,
                                         _sql_bpe_tokenize(_BPE_TRAIN_MERGES))


def q_sample_group_split(spark: SparkSession, sf: str) -> DataFrame:
    """Leakage-safe holdout: split assigned per SOURCE (group), so
    same-source near-duplicates never straddle train/val
    (operators/sampling.group_split)."""
    from kstream_spark.operators.sampling import group_split
    return group_split(_docs(spark, sf), "source", val_pct=20) \
        .select("doc_id", "source", "split")


SQL_SAMPLE_GROUP_SPLIT = """
SELECT doc_id, source,
       CASE WHEN CAST(CAST(('0x' || substr(md5('gsplit:' || source), 1, 8))
                           AS UBIGINT) AS BIGINT) % 100 < 20
            THEN 'val' ELSE 'train' END AS split
FROM documents
"""

CORPUS_INVENTORY["sample_group_split"] = (q_sample_group_split,
                                          SQL_SAMPLE_GROUP_SPLIT)


def q_text_lang_id_ngram(spark: SparkSession, sf: str) -> DataFrame:
    """Char-trigram language ID (Cavnar-Trenkle shape, the n-gram upgrade
    of the marker-word text_lang_id): train top-40 trigram profiles per
    labeled language on a DETERMINISTIC 20% sample (doc_id % 5 == 0 —
    replayed verbatim by the oracle), predict by distinct-trigram overlap
    over the FULL corpus, report the confusion matrix (true lang x
    predicted lang x doc count).  Train-on-sample is the Cavnar-Trenkle
    production shape and the 100 TB scale story: the profile explode
    (every char position of every sampled doc) reads a bounded slice,
    while prediction stays a zero-shuffle full scan — r11, after the
    full-corpus profile explode measured 4s of the query's 6s at sf1."""
    from kstream_spark.operators.text import (lang_id_ngram,
                                              lang_ngram_profiles)
    docs = _docs(spark, sf)
    prof = lang_ngram_profiles(docs.filter(F.col("doc_id") % 5 == 0),
                               "lang", "text", n=3, top_m=40)
    # keep_cols threads the true lang through the zero-shuffle scoring
    # projection — the r11 doc-keyed join back onto docs double-shuffled
    # the corpus for a column the scan already had (sf1: 2.9x -> in-band)
    pred = lang_id_ngram(docs, "doc_id", "text", prof, n=3,
                         keep_cols=("lang",))
    return (pred.groupBy("lang", "pred_lang")
            .agg(F.count("*").cast("long").alias("n_docs"))
            .orderBy("lang", "pred_lang"))


SQL_TEXT_LANG_ID_NGRAM = r"""
WITH src AS (SELECT doc_id, lang, lower(text) AS t
             FROM documents WHERE length(lower(text)) >= 3),
g AS (SELECT lang, unnest(list_transform(range(1, length(t) - 1),
                                         i -> substr(t, i, 3))) AS g
      FROM src WHERE doc_id % 5 = 0),
cnt AS (SELECT lang, g, count(*) AS c FROM g GROUP BY lang, g),
prof AS (SELECT lang, g FROM (
           SELECT lang, g, row_number() OVER (PARTITION BY lang
                              ORDER BY c DESC, g ASC) AS rn
           FROM cnt) WHERE rn <= 40),
dg AS (SELECT DISTINCT doc_id, g FROM (
         SELECT doc_id, unnest(list_transform(range(1, length(t) - 1),
                                              i -> substr(t, i, 3))) AS g
         FROM src)),
hits AS (SELECT dg.doc_id, p.lang, count(*) AS h
         FROM dg JOIN prof p USING (g) GROUP BY dg.doc_id, p.lang),
best AS (SELECT doc_id, lang AS pred_lang, h FROM (
           SELECT doc_id, lang, h,
                  row_number() OVER (PARTITION BY doc_id
                                     ORDER BY h DESC, lang ASC) AS rn
           FROM hits) WHERE rn = 1)
SELECT d.lang, coalesce(b.pred_lang, 'und') AS pred_lang,
       CAST(count(*) AS BIGINT) AS n_docs
FROM documents d LEFT JOIN best b USING (doc_id)
GROUP BY d.lang, coalesce(b.pred_lang, 'und')
ORDER BY lang, pred_lang
"""

CORPUS_INVENTORY["text_lang_id_ngram"] = (q_text_lang_id_ngram,
                                          SQL_TEXT_LANG_ID_NGRAM)


def q_sample_weighted(spark: SparkSession, sf: str) -> DataFrame:
    """Quality-weighted corpus subsample: Efraimidis-Spirakis keys
    (-ln(u)/w, u from md5) pick 200 docs with probability proportional
    to n_chars — deterministic weighted sampling without replacement
    (operators/sampling.weighted_sample)."""
    from kstream_spark.operators.sampling import weighted_sample
    return weighted_sample(_docs(spark, sf), "doc_id", "n_chars",
                           n=200).select("doc_id", "n_chars", "sample_key")


SQL_SAMPLE_WEIGHTED = """
SELECT doc_id, n_chars,
       round(-ln((CAST(CAST(('0x' || substr(md5('wsample:'
                     || CAST(doc_id AS VARCHAR)), 1, 8)) AS UBIGINT)
                  AS DOUBLE) + 1) / 4294967296.0)
             / CAST(n_chars AS DOUBLE), 6) AS sample_key
FROM documents
WHERE n_chars > 0
ORDER BY sample_key ASC, doc_id ASC
LIMIT 200
"""

CORPUS_INVENTORY["sample_weighted"] = (q_sample_weighted,
                                       SQL_SAMPLE_WEIGHTED)


def q_corpus_pack_efficiency(spark: SparkSession, sf: str) -> DataFrame:
    """Packing-efficiency audit over the sequence-packing layout: per
    shard, how full the 256-token chunks actually are (total tokens /
    allocated chunk capacity) plus doc and chunk counts — the waste
    metric a packing stage is tuned against (docs spanning a chunk
    boundary inflate the final chunk; empty-doc rows occupy no capacity)."""
    from kstream_spark.operators.corpus import pack_chunks
    packed = pack_chunks(_docs(spark, sf), "doc_id", "text",
                         capacity=256, n_shards=8)
    return (packed.groupBy("shard")
            .agg(F.count("*").cast("long").alias("n_docs"),
                 F.sum("tokens").cast("long").alias("total_tokens"),
                 (F.max("chunk_last") + 1).cast("long").alias("n_chunks"))
            .withColumn("fill_ratio",
                        F.round(F.col("total_tokens")
                                / (F.col("n_chunks") * 256.0), 6))
            .orderBy("shard"))


SQL_CORPUS_PACK_EFFICIENCY = f"""
WITH {_CW},
t AS (SELECT doc_id, CAST(len(cw.ws) AS BIGINT) AS tokens,
        CAST(CAST(('0x' || substr(md5('pack:' || CAST(doc_id AS VARCHAR)),
                                  1, 8)) AS UBIGINT) % 8 AS BIGINT) AS shard
      FROM cw),
c AS (SELECT doc_id, shard, tokens,
        CAST(sum(tokens) OVER (PARTITION BY shard ORDER BY doc_id)
             AS BIGINT) AS cum
      FROM t),
p AS (SELECT doc_id, shard, tokens,
        CAST(floor(CASE WHEN tokens = 0 THEN greatest(cum - 1, 0)
                        ELSE cum - 1 END / 256.0) AS BIGINT) AS chunk_last
      FROM c)
SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(tokens) AS BIGINT) AS total_tokens,
       CAST(max(chunk_last) + 1 AS BIGINT) AS n_chunks,
       round(sum(tokens) / ((max(chunk_last) + 1) * 256.0), 6)
         AS fill_ratio
FROM p GROUP BY shard ORDER BY shard
"""

CORPUS_INVENTORY["corpus_pack_efficiency"] = (q_corpus_pack_efficiency,
                                              SQL_CORPUS_PACK_EFFICIENCY)


def q_text_wordpiece_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """WordPiece merge statistics: adjacent char pairs scored by the
    likelihood gain ln(c_ab) - ln(c_a) - ln(c_b) in exact micro-log ints
    (operators/text.wordpiece_pair_scores) — the scoring rule that
    distinguishes WordPiece from BPE's raw-frequency merges."""
    from kstream_spark.operators.text import wordpiece_pair_scores
    return wordpiece_pair_scores(_docs(spark, sf), "text", top_k=50)


SQL_TEXT_WORDPIECE_PAIRS = rf"""
WITH t AS (SELECT unnest(string_split_regex(lower(text), '{RE2_WS}')) AS w
           FROM documents),
wf AS (SELECT w, CAST(count(*) AS BIGINT) AS wf
       FROM t WHERE length(w) >= 2 GROUP BY w),
p AS (SELECT unnest(list_transform(range(1, length(w)),
                                   i -> substr(w, i, 2))) AS pair, wf
      FROM wf),
pc AS (SELECT pair, CAST(sum(wf) AS BIGINT) AS cnt FROM p GROUP BY pair),
c AS (SELECT unnest(list_transform(range(1, length(w) + 1),
                                   i -> substr(w, i, 1))) AS ch, wf
      FROM wf),
cc AS (SELECT ch, CAST(sum(wf) AS BIGINT) AS cc FROM c GROUP BY ch),
s AS (SELECT pair, cnt,
             CAST(round((ln(cnt) - ln(a.cc) - ln(b.cc)) * 1e6, 0) AS BIGINT)
             AS score_micro
      FROM pc JOIN cc a ON substr(pair, 1, 1) = a.ch
              JOIN cc b ON substr(pair, 2, 1) = b.ch)
SELECT pair, cnt, score_micro,
       CAST(row_number() OVER (ORDER BY score_micro DESC, pair) AS BIGINT)
       AS rank
FROM s ORDER BY score_micro DESC, pair LIMIT 50
"""

CORPUS_INVENTORY["text_wordpiece_pairs"] = (q_text_wordpiece_pairs,
                                            SQL_TEXT_WORDPIECE_PAIRS)


_WPT_MERGES = 6     # WordPiece train rounds (mirrors _BPE_TRAIN_MERGES)
_WPT_DOCS = 300     # tokenize slice: bounds the ORACLE's path enumeration
_WPT_WLEN = 10      # tokenize word-length cap (same protocol as unigram)


def _wordpiece_train_ctes(n: int) -> str:
    """Unroll n WordPiece merge rounds as chained CTEs (no WITH prefix):
    DuckDB replays the exact count -> score -> pick -> merge sequence the
    Spark loop runs — pair counts AND current-symbol counts per round,
    winner by likelihood gain ln(c_ab)-ln(c_a)-ln(c_b) in micro-log ints
    (score desc, pair asc), merge via the same delimiter-doubling
    triple-replace as the BPE oracle."""
    parts = [rf"""t AS (SELECT unnest(string_split_regex(lower(text), '{RE2_WS}')) AS w
           FROM documents),
wf AS MATERIALIZED (SELECT w, CAST(count(*) AS BIGINT) AS wf
       FROM t WHERE length(w) >= 2 GROUP BY w),
s0 AS MATERIALIZED (SELECT ' ' || regexp_replace(w, '(.)', '\1 ', 'g') AS seq, wf
       FROM wf)"""]
    for r in range(1, n + 1):
        prev = f"s{r - 1}"
        parts.append(f""",
p{r} AS MATERIALIZED (SELECT pair, CAST(sum(wf) AS BIGINT) AS cnt
  FROM (SELECT wf, unnest(list_transform(
            range(1, len(string_split(trim(seq), ' '))),
            i -> string_split(trim(seq), ' ')[i] || ' '
                 || string_split(trim(seq), ' ')[i + 1])) AS pair
        FROM {prev} WHERE len(string_split(trim(seq), ' ')) > 1)
  GROUP BY pair),
y{r} AS MATERIALIZED (SELECT sym, CAST(sum(wf) AS BIGINT) AS sc
  FROM (SELECT wf, unnest(string_split(trim(seq), ' ')) AS sym
        FROM {prev})
  GROUP BY sym),
b{r} AS MATERIALIZED (SELECT pair, replace(pair, ' ', '') AS merged, cnt, score_micro
  FROM (SELECT pair, cnt,
               CAST(round((ln(cnt) - ln(ya.sc) - ln(yb.sc)) * 1e6, 0)
                    AS BIGINT) AS score_micro
        FROM p{r} JOIN y{r} ya ON string_split(pair, ' ')[1] = ya.sym
                  JOIN y{r} yb ON string_split(pair, ' ')[2] = yb.sym)
  ORDER BY score_micro DESC, pair ASC LIMIT 1),
s{r} AS MATERIALIZED (SELECT replace(replace(replace(seq, ' ', '  '),
                        ' ' || replace(bb.pair, ' ', '  ') || ' ',
                        ' ' || bb.merged || ' '),
                        '  ', ' ') AS seq, wf
  FROM {prev}, b{r} bb)""")
    return "".join(parts)


def _sql_wordpiece_train(n: int) -> str:
    union = "\nUNION ALL ".join(
        f"SELECT CAST({r} AS BIGINT) AS merge_rank, pair, merged, cnt, "
        f"score_micro FROM b{r}" for r in range(1, n + 1))
    return f"WITH {_wordpiece_train_ctes(n)}\n{union}"


def q_text_wordpiece_train(spark: SparkSession, sf: str) -> DataFrame:
    """Full iterative WordPiece training loop: merge the top LIKELIHOOD-
    GAIN pair, recount both pair and symbol statistics, repeat
    (operators/text.wordpiece_train; text_wordpiece_pairs is one round's
    statistic) — completing the train half of the third tokenizer-family
    cycle next to text_bpe_train and text_unigram_train."""
    from kstream_spark.operators.text import wordpiece_train
    return wordpiece_train(_docs(spark, sf), "text", n_merges=_WPT_MERGES)


CORPUS_INVENTORY["text_wordpiece_train"] = (
    q_text_wordpiece_train, _sql_wordpiece_train(_WPT_MERGES))


def q_text_wordpiece_tokenize(spark: SparkSession, sf: str) -> DataFrame:
    """WordPiece INFERENCE: train _WPT_MERGES merges on the full corpus,
    then greedy longest-match-first (MaxMatch) tokenize the bounded
    slice (doc_id < 300, words <= 10 chars — the slice bounds the
    ORACLE's path enumeration, not the operator) and report every
    (token, cnt).  The oracle replays training as unrolled CTEs, then
    enumerates all segmentations and picks the lexicographically LARGEST
    piece-length sequence — provably the MaxMatch path (see
    operators/text._maxmatch_pieces)."""
    from kstream_spark.operators.text import (wordpiece_tokenize,
                                              wordpiece_train)
    docs = _docs(spark, sf)
    vocab = [r["merged"] for r in
             wordpiece_train(docs, "text", n_merges=_WPT_MERGES)
             .orderBy("merge_rank").collect()]
    sl = docs.filter(F.col("doc_id") < _WPT_DOCS)
    return wordpiece_tokenize(sl, "text", vocab, max_word_len=_WPT_WLEN)


def _sql_wordpiece_tokenize(n: int) -> str:
    vocab_union = "\nUNION ALL ".join(
        f"SELECT merged FROM b{r}" for r in range(1, n + 1))
    return f"""WITH RECURSIVE {_wordpiece_train_ctes(n)},
t2 AS (SELECT unnest(string_split_regex(lower(text), '{RE2_WS}')) AS w
       FROM documents WHERE doc_id < {_WPT_DOCS}),
wf2 AS (SELECT w, CAST(count(*) AS BIGINT) AS wf
        FROM t2 WHERE w <> '' GROUP BY w),
wfe AS MATERIALIZED (SELECT w, wf FROM wf2 WHERE length(w) <= {_WPT_WLEN}),
vocabw AS MATERIALIZED (SELECT DISTINCT merged AS piece
                        FROM ({vocab_union})),
chars2 AS MATERIALIZED (SELECT DISTINCT substr(w, i, 1) AS piece
          FROM wfe, unnest(range(1, length(w) + 1)) AS u(i)),
allp AS MATERIALIZED (SELECT piece FROM vocabw
          UNION
          SELECT piece FROM chars2),
seg AS (SELECT w, wf, 0 AS pos, []::VARCHAR[] AS pieces
        FROM wfe
        UNION ALL
        SELECT s.w, s.wf, s.pos + length(p.piece),
               list_append(s.pieces, p.piece)
        FROM seg s JOIN allp p
          ON substr(s.w, s.pos + 1, length(p.piece)) = p.piece
        WHERE s.pos < length(s.w)),
best AS MATERIALIZED (SELECT w, wf, pieces
          FROM (SELECT *, row_number() OVER (PARTITION BY w
                  ORDER BY list_transform(pieces, x -> length(x)) DESC)
                  AS rn
                FROM seg WHERE pos = length(w))
          WHERE rn = 1)
SELECT token, CAST(sum(wf) AS BIGINT) AS cnt
FROM (SELECT wf, unnest(pieces) AS token FROM best)
GROUP BY token
"""


CORPUS_INVENTORY["text_wordpiece_tokenize"] = (
    q_text_wordpiece_tokenize, _sql_wordpiece_tokenize(_WPT_MERGES))


def q_text_bigram_lm(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus-self bigram LM per-document log-probability (exact integer
    micro-units; operators/corpus.bigram_logprob) — the conditional
    upgrade of text_unigram_lm, restricted to the first 100 docs so the
    oracle's bigram replay stays readable."""
    from kstream_spark.operators.corpus import bigram_logprob
    from kstream_spark.util import ensure_parallelism
    return bigram_logprob(ensure_parallelism(_docs(spark, sf)),
                          "doc_id", "text") \
        .filter(F.col("doc_id") < 100)


SQL_TEXT_BIGRAM_LM = rf"""
WITH w AS (SELECT doc_id,
                  list_filter(string_split_regex(lower(text), '{RE2_WS}'),
                              x -> x <> '') AS ws
           FROM documents),
big AS (SELECT doc_id,
               unnest(list_transform(range(2, len(ws) + 1),
                                     i -> ws[i-1] || ' ' || ws[i])) AS bg
        FROM w WHERE len(ws) >= 2),
cb AS (SELECT bg, count(*) AS cab FROM big GROUP BY bg),
ca AS (SELECT split_part(bg, ' ', 1) AS a, sum(cab) AS ca
       FROM cb GROUP BY 1),
lp AS (SELECT bg, CAST(round(ln(cab / ca) * 1e6, 0) AS BIGINT) AS lpi
       FROM cb JOIN ca ON split_part(cb.bg, ' ', 1) = ca.a)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       CAST(sum(lpi) AS BIGINT) AS sum_logp_micro
FROM big JOIN lp USING (bg)
WHERE doc_id < 100
GROUP BY doc_id
"""

CORPUS_INVENTORY["text_bigram_lm"] = (q_text_bigram_lm, SQL_TEXT_BIGRAM_LM)


def q_select_curriculum(spark: SparkSession, sf: str) -> DataFrame:
    """Curriculum difficulty deciles over the corpus-self bigram LM score
    (operators/selection.curriculum_bins): distributed two-phase ntile —
    no single-task sort of the corpus — cut into 10 equal-depth bins,
    one exact-integer audit row per bin.  share_bigrams: the exploded
    bigram relation persists once for all three LM consumers; the 10-row
    audit materializes via collect_freeing so the cache frees with the
    query."""
    from kstream_spark.operators.selection import curriculum_bins
    from kstream_spark.util import collect_freeing
    caches: list = []
    # bigram_table pinned: the documents corpus vocabulary is far under
    # the 2M-bigram broadcast ceiling at every SF (9.3k distinct bigrams
    # at sf1), so the auto gate's distinct-count job buys nothing here
    out = curriculum_bins(_docs(spark, sf), "doc_id", "text", n_bins=10,
                          caches=caches, share_bigrams=True,
                          bigram_table="broadcast")
    return collect_freeing(out, *caches)


SQL_SELECT_CURRICULUM = rf"""
WITH w AS (SELECT doc_id,
                  list_filter(string_split_regex(lower(text), '{RE2_WS}'),
                              x -> x <> '') AS ws
           FROM documents),
big AS (SELECT doc_id,
               unnest(list_transform(range(2, len(ws) + 1),
                                     i -> ws[i-1] || ' ' || ws[i])) AS bg
        FROM w WHERE len(ws) >= 2),
cb AS (SELECT bg, count(*) AS cab FROM big GROUP BY bg),
ca AS (SELECT split_part(bg, ' ', 1) AS a, sum(cab) AS ca
       FROM cb GROUP BY 1),
lp AS (SELECT bg, CAST(round(ln(cab / ca) * 1e6, 0) AS BIGINT) AS lpi
       FROM cb JOIN ca ON split_part(cb.bg, ' ', 1) = ca.a),
lm AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
              CAST(sum(lpi) AS BIGINT) AS sum_logp_micro
       FROM big JOIN lp USING (bg) GROUP BY doc_id),
b AS (SELECT *, CAST(ntile(10) OVER (
        ORDER BY CAST(sum_logp_micro AS DOUBLE) / n_bigrams ASC,
                 doc_id ASC) AS BIGINT) AS difficulty
      FROM lm)
SELECT difficulty, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_bigrams) AS BIGINT) AS n_bigrams,
       CAST(sum(sum_logp_micro) AS BIGINT) AS sum_logp_micro
FROM b GROUP BY difficulty
"""

CORPUS_INVENTORY["select_curriculum"] = (q_select_curriculum,
                                         SQL_SELECT_CURRICULUM)


_MIX_SELECT = 200   # DSIR-kept docs feeding the mix
_MIX_BINS = 5       # curriculum difficulty bins


def q_pipeline_selection_mix(spark: SparkSession, sf: str) -> DataFrame:
    """The SELECTION family composed end-to-end — the "build a training
    mix" story a real user runs: DSIR importance resampling toward the
    target source (keep the top {n} docs) -> curriculum difficulty
    binning of the KEPT slice (bigram-LM score, distributed two-phase
    ntile) -> sequence-pack each difficulty bin (pack_chunks along the
    bin as the shard) -> one audit row per bin: doc/token/chunk counts,
    fill ratio, and the bin's total DSIR mass.  Every stage is the
    already-oracle-checked operator (select_dsir, bigram_logprob +
    with_ntile_percent_rank, pack_chunks); this row proves their
    COMPOSITION.  Docs with <2 words carry no bigram score and drop at
    the binning stage, same as select_curriculum."""
    from kstream_spark.operators import selection as SEL
    from kstream_spark.operators.corpus import bigram_logprob
    from kstream_spark.operators.ranking import with_ntile_percent_rank
    docs = _docs(spark, sf)
    # the kept slice feeds THREE consumers (bigram LM, the binned join,
    # the packed join-back) — persist the 200-row relation so the DSIR
    # corpus scans run once, not once per consumer
    # repartition(1) AFTER the broadcast join: the corpus probe stays
    # parallel, the 200 surviving rows collapse to one partition so every
    # downstream stage (LM explode, ntile, pack) schedules one task
    # instead of one per scan split (sf1: downstream 4.3s -> ~1.5s)
    sel_caches: list = []
    kept = docs.join(
        F.broadcast(SEL.select_dsir(docs, "doc_id", "text",
                                    F.col("source") == "src18",
                                    n_select=_MIX_SELECT, n_buckets=256,
                                    caches=sel_caches, share_tokens=True)
                    .select("doc_id", "dsir_micro")),
        "doc_id").repartition(1).persist()
    # kept is <= _MIX_SELECT rows BY CONSTRUCTION, so the corpus-scale
    # machinery stays off: no repartition spread, no bigram-table gate
    # job (broadcast pinned), and the two-phase
    # ntile collapses to one range partition — each would otherwise
    # schedule dozens of near-empty tasks (measured: the 200-row LM +
    # ntile stages were 4s of the query's 7s at sf1)
    lm = bigram_logprob(kept, "doc_id", "text", bigram_table="broadcast")
    scored = lm.withColumn(
        "_lpb", F.col("sum_logp_micro").cast("double") / F.col("n_bigrams"))
    binned = with_ntile_percent_rank(
        scored, [F.asc("_lpb"), F.asc("doc_id")], n_buckets=_MIX_BINS,
        ntile_col="difficulty", pct_col="_pct", num_partitions=1)
    sliced = kept.join(binned.select("doc_id", "difficulty"), "doc_id")
    packed = C.pack_chunks(sliced, "doc_id", "text", capacity=256,
                           shard_col="difficulty")
    out = (packed.join(sliced.select("doc_id", "dsir_micro"), "doc_id")
           .groupBy(F.col("shard").alias("difficulty"))
           .agg(F.count("*").cast("long").alias("n_docs"),
                F.sum("tokens").cast("long").alias("total_tokens"),
                (F.max("chunk_last") + 1).cast("long").alias("n_chunks"),
                F.sum("dsir_micro").cast("long").alias("sum_dsir_micro"))
           .withColumn("fill_ratio",
                       F.round(F.col("total_tokens")
                               / (F.col("n_chunks") * 256.0), 6))
           .orderBy("difficulty"))
    # one audit row per bin — materialize so the kept-slice cache AND the
    # shared DSIR token cache free with the query instead of living for
    # the sweep session (ADVICE r8)
    from kstream_spark.util import collect_freeing
    return collect_freeing(out, kept, *sel_caches)


SQL_PIPELINE_SELECTION_MIX = f"""
WITH dtok AS (SELECT doc_id, (source = 'src18') AS t,
               CAST(CAST(('0x' || substr(md5('dsir:' || u), 1, 8)) AS UBIGINT)
                    % 256 AS BIGINT) AS b
        FROM (SELECT doc_id, source,
                     unnest(list_filter(string_split_regex(lower(text),
                                                           '{RE2_WS}'),
                                        x -> x <> '')) AS u
              FROM documents)),
dcounts AS (SELECT b, count(*) AS cs, count(*) FILTER (t) AS ct
            FROM dtok GROUP BY b),
dtot AS (SELECT sum(cs) AS ns, sum(ct) AS nt FROM dcounts),
dwt AS (SELECT b, CAST(round((ln((ct + 1) / (nt + 256))
                              - ln((cs + 1) / (ns + 256))) * 1e6, 0)
                       AS BIGINT) AS wgt
        FROM dcounts, dtot),
ddoc AS (SELECT doc_id, CAST(sum(wgt) AS BIGINT) AS dsir_micro
         FROM dtok JOIN dwt USING (b) GROUP BY doc_id),
sel AS (SELECT doc_id, dsir_micro FROM ddoc
        QUALIFY row_number() OVER (ORDER BY dsir_micro DESC, doc_id)
                <= {_MIX_SELECT}),
w AS (SELECT d.doc_id,
             list_filter(string_split_regex(lower(d.text), '{RE2_WS}'),
                         x -> x <> '') AS ws
      FROM documents d JOIN sel USING (doc_id)),
big AS (SELECT doc_id,
               unnest(list_transform(range(2, len(ws) + 1),
                                     i -> ws[i-1] || ' ' || ws[i])) AS bg
        FROM w WHERE len(ws) >= 2),
cb AS (SELECT bg, count(*) AS cab FROM big GROUP BY bg),
ca AS (SELECT split_part(bg, ' ', 1) AS a, sum(cab) AS ca
       FROM cb GROUP BY 1),
lp AS (SELECT bg, CAST(round(ln(cab / ca) * 1e6, 0) AS BIGINT) AS lpi
       FROM cb JOIN ca ON split_part(cb.bg, ' ', 1) = ca.a),
lm AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
              CAST(sum(lpi) AS BIGINT) AS sum_logp_micro
       FROM big JOIN lp USING (bg) GROUP BY doc_id),
b AS (SELECT doc_id, CAST(ntile({_MIX_BINS}) OVER (
        ORDER BY CAST(sum_logp_micro AS DOUBLE) / n_bigrams ASC,
                 doc_id ASC) AS BIGINT) AS difficulty
      FROM lm),
tok AS (SELECT b.doc_id, b.difficulty, CAST(len(w.ws) AS BIGINT) AS tokens,
               s.dsir_micro
        FROM b JOIN w USING (doc_id) JOIN sel s USING (doc_id)),
c AS (SELECT doc_id, difficulty, tokens, dsir_micro,
        CAST(sum(tokens) OVER (PARTITION BY difficulty ORDER BY doc_id)
             AS BIGINT) AS cum
      FROM tok),
p AS (SELECT difficulty, tokens, dsir_micro,
        CAST(floor(CASE WHEN tokens = 0 THEN greatest(cum - 1, 0)
                        ELSE cum - 1 END / 256.0) AS BIGINT) AS chunk_last
      FROM c)
SELECT difficulty, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(tokens) AS BIGINT) AS total_tokens,
       CAST(max(chunk_last) + 1 AS BIGINT) AS n_chunks,
       CAST(sum(dsir_micro) AS BIGINT) AS sum_dsir_micro,
       round(sum(tokens) / ((max(chunk_last) + 1) * 256.0), 6) AS fill_ratio
FROM p GROUP BY difficulty ORDER BY difficulty
"""

CORPUS_INVENTORY["pipeline_selection_mix"] = (q_pipeline_selection_mix,
                                              SQL_PIPELINE_SELECTION_MIX)


def q_text_lexical_diversity(spark: SparkSession, sf: str) -> DataFrame:
    """Per-document type-token + hapax ratios in exact integer micro-units
    (operators/text.lexical_diversity) — the cheap lexical screens ahead
    of any LM perplexity gate."""
    from kstream_spark.operators.text import lexical_diversity
    return lexical_diversity(_docs(spark, sf), "doc_id", "text")


SQL_TEXT_LEXDIV = rf"""
WITH w AS (SELECT doc_id,
                  unnest(list_filter(string_split_regex(lower(text), '{RE2_WS}'),
                                     x -> x <> '')) AS tok
           FROM documents),
pt AS (SELECT doc_id, tok, count(*) AS c FROM w GROUP BY doc_id, tok),
agg AS (SELECT doc_id,
               CAST(sum(c) AS BIGINT) AS n_tokens,
               CAST(count(*) AS BIGINT) AS n_types,
               CAST(count(*) FILTER (c = 1) AS BIGINT) AS n_hapax
        FROM pt GROUP BY doc_id)
SELECT doc_id, n_tokens, n_types, n_hapax,
       (2000000 * n_types + n_tokens) // (2 * n_tokens) AS ttr_micro,
       (2000000 * n_hapax + n_tokens) // (2 * n_tokens) AS hapax_micro
FROM agg
"""

CORPUS_INVENTORY["text_lexical_diversity"] = (q_text_lexical_diversity,
                                              SQL_TEXT_LEXDIV)


# -- unigram-LM (SentencePiece-family) tokenizer ------------------------------
_UNI_SEED_V = 50          # seed vocab size for the seed/viterbi queries
_UNI_PLEN = 4             # max piece length (seed/viterbi)
_UNI_OOV = -20_000_000    # single-char OOV floor, micro-log units

# DuckDB replay of unigram_seed_vocab over the corpus-wide distinct words:
# substring enumeration is a per-word list comprehension, then one count
_SQL_UNI_WF = rf"""
t AS (SELECT unnest(string_split_regex(lower(text), '{RE2_WS}')) AS w
      FROM documents),
wf AS (SELECT w, CAST(count(*) AS BIGINT) AS wf
       FROM t WHERE w <> '' GROUP BY w)"""


def _sql_uni_seed(plen: int, top_v: int) -> str:
    return f"""
WITH {_SQL_UNI_WF},
sub AS (SELECT unnest(flatten(list_transform(range(1, length(w) + 1),
          i -> list_transform(range(i, least(i + {plen} - 1, length(w)) + 1),
                              j -> substr(w, i, j - i + 1))))) AS piece, wf
        FROM wf),
p AS (SELECT piece, CAST(sum(wf) AS BIGINT) AS cnt
      FROM sub GROUP BY piece ORDER BY cnt DESC, piece LIMIT {top_v}),
tot AS (SELECT sum(cnt) AS tot FROM p)
SELECT piece, cnt,
       CAST(round(ln(cnt / tot) * 1e6, 0) AS BIGINT) AS logp_micro
FROM p, tot
"""


def q_text_unigram_seed(spark: SparkSession, sf: str) -> DataFrame:
    """Seed vocabulary for unigram-LM tokenizer training (Kudo 2018):
    top-50 corpus substrings <= 4 chars with initial micro-log probs
    (operators/text.unigram_seed_vocab) — the third tokenizer family
    next to BPE (merge-grown) and WordPiece (likelihood-grown): unigram
    starts from a superset and PRUNES."""
    from kstream_spark.operators.text import unigram_seed_vocab
    return unigram_seed_vocab(_docs(spark, sf), "text",
                              max_piece_len=_UNI_PLEN, top_v=_UNI_SEED_V)


CORPUS_INVENTORY["text_unigram_seed"] = (
    q_text_unigram_seed, _sql_uni_seed(_UNI_PLEN, _UNI_SEED_V))


def q_text_unigram_viterbi(spark: SparkSession, sf: str) -> DataFrame:
    """Viterbi segmentation under the seed unigram vocab — best-path
    total micro-log-prob + piece count for the 40 most frequent corpus
    words (<= 16 chars so the oracle's exhaustive path enumeration stays
    bounded).  The DP is exact-integer with a total-order tie-break
    (max score, then fewest pieces), so a recursive-CTE oracle that
    enumerates EVERY segmentation and sorts reproduces it bit-for-bit
    (operators/text.unigram_viterbi_stats)."""
    from kstream_spark.operators.text import (unigram_seed_vocab,
                                              unigram_viterbi_stats)
    docs = _docs(spark, sf)
    pieces = [(r["piece"], int(r["logp_micro"])) for r in
              unigram_seed_vocab(docs, "text", _UNI_PLEN,
                                 _UNI_SEED_V).collect()]
    stats = unigram_viterbi_stats(docs, "text", pieces,
                                  max_piece_len=_UNI_PLEN,
                                  oov_logp_micro=_UNI_OOV)
    return (stats.filter(F.length("w") <= 16)
            .orderBy(F.desc("wf"), F.asc("w")).limit(40))


def _sql_uni_viterbi() -> str:
    seed = _sql_uni_seed(_UNI_PLEN, _UNI_SEED_V)
    # reuse the seed query's CTE chain: strip the leading WITH and the
    # final SELECT (everything after the tot CTE)
    seed_ctes = seed.split("\nSELECT piece,")[0].lstrip()[len("WITH "):]
    return f"""
WITH RECURSIVE {seed_ctes},
vocab AS MATERIALIZED (SELECT piece,
                 CAST(round(ln(cnt / tot) * 1e6, 0) AS BIGINT) AS lp
          FROM p, tot),
slice AS MATERIALIZED (SELECT w, wf FROM wf WHERE length(w) <= 16
          ORDER BY wf DESC, w ASC LIMIT 40),
-- single chars of the slice words absent from the vocab segment at the
-- OOV floor (exactly operators/text._viterbi_best)
chars AS MATERIALIZED (SELECT DISTINCT substr(w, i, 1) AS piece
          FROM slice, unnest(range(1, length(w) + 1)) AS u(i)),
allp AS (SELECT piece, lp FROM vocab
         UNION ALL
         SELECT c.piece, CAST({_UNI_OOV} AS BIGINT) AS lp
         FROM chars c WHERE c.piece NOT IN (SELECT piece FROM vocab)),
seg AS (SELECT w, wf, 0 AS pos, CAST(0 AS BIGINT) AS score,
               CAST(0 AS BIGINT) AS np
        FROM slice
        UNION ALL
        SELECT s.w, s.wf, s.pos + length(p.piece),
               s.score + p.lp, s.np + 1
        FROM seg s JOIN allp p
          ON substr(s.w, s.pos + 1, length(p.piece)) = p.piece
        WHERE s.pos < length(s.w))
SELECT w, wf, np AS n_pieces, score AS best_logp_micro
FROM (SELECT *, row_number() OVER (
        PARTITION BY w ORDER BY score DESC, np ASC) AS rn
      FROM seg WHERE pos = length(w))
WHERE rn = 1
"""


CORPUS_INVENTORY["text_unigram_viterbi"] = (q_text_unigram_viterbi,
                                            _sql_uni_viterbi())


_UNT_DOCS = 300     # training slice: doc_id < 300 (SF-independent ids)
_UNT_PLEN = 3
_UNT_SEED_V = 40
_UNT_KEEP_V = 25
_UNT_WLEN = 10      # E-step cap: words longer than this are dropped
                    # (paths/word ~ 1.84^len — 10 keeps the oracle's
                    # exhaustive enumeration ~3x cheaper than 12)


def q_text_unigram_train(spark: SparkSession, sf: str) -> DataFrame:
    """Unigram-LM tokenizer training by hard (Viterbi) EM with pruning
    (operators/text.unigram_train) on the documented bounded slice
    (doc_id < 300, piece len <= 3, words <= 12 chars, 2 EM rounds): the
    oracle replays BOTH rounds — exhaustive segmentation enumeration,
    the DP's (score desc, fewest pieces, longest-last-piece) path order,
    count, prune, re-estimate — as chained recursive CTEs.  The operator
    itself is unbounded (vocab-sized rounds, bounded driver traffic);
    the slice only bounds the ORACLE's exponential path replay, same
    protocol as the capped dedup baselines."""
    from kstream_spark.operators.text import unigram_train
    docs = _docs(spark, sf).filter(F.col("doc_id") < _UNT_DOCS)
    return unigram_train(docs, "text", seed_v=_UNT_SEED_V,
                         keep_v=_UNT_KEEP_V, iters=2,
                         max_piece_len=_UNT_PLEN,
                         max_word_len=_UNT_WLEN)


def _sql_uni_train() -> str:
    plen, seedv, keepv, wlen, docs = (_UNT_PLEN, _UNT_SEED_V, _UNT_KEEP_V,
                                      _UNT_WLEN, _UNT_DOCS)
    oov = _UNI_OOV

    def em_round(r: int, vocab: str) -> str:
        """One hard-EM round: path-enumerating recursion under ``vocab``
        (+ OOV floor chars), best path per word by the DP's total order,
        piece counts, prune, re-estimate."""
        return f""",
allp{r} AS MATERIALIZED (SELECT piece, lp FROM {vocab}
            UNION ALL
            SELECT c.piece, CAST({oov} AS BIGINT) AS lp
            FROM chars c
            WHERE c.piece NOT IN (SELECT piece FROM {vocab})),
seg{r} AS (SELECT w, wf, 0 AS pos, CAST(0 AS BIGINT) AS score,
                  CAST(0 AS BIGINT) AS np,
                  []::VARCHAR[] AS pieces
           FROM wfe
           UNION ALL
           SELECT s.w, s.wf, s.pos + length(p.piece),
                  s.score + p.lp, s.np + 1,
                  list_append(s.pieces, p.piece)
           FROM seg{r} s JOIN allp{r} p
             ON substr(s.w, s.pos + 1, length(p.piece)) = p.piece
           WHERE s.pos < length(s.w)),
best{r} AS MATERIALIZED (SELECT w, wf, pieces
            FROM (SELECT *, row_number() OVER (PARTITION BY w
                    ORDER BY score DESC, np ASC,
                             list_transform(list_reverse(pieces),
                                            x -> length(x)) DESC) AS rn
                  FROM seg{r} WHERE pos = length(w))
            WHERE rn = 1),
cnt{r} AS MATERIALIZED (SELECT piece, CAST(sum(wf) AS BIGINT) AS cnt
           FROM (SELECT wf, unnest(pieces) AS piece FROM best{r})
           GROUP BY piece),
rank{r} AS MATERIALIZED (SELECT piece, cnt, row_number() OVER (
              ORDER BY cnt DESC, piece ASC) AS rk FROM cnt{r}),
kept{r} AS MATERIALIZED (SELECT piece, cnt FROM rank{r}
            WHERE rk <= {keepv} OR length(piece) = 1),
tot{r} AS MATERIALIZED (SELECT sum(cnt) AS tot FROM kept{r}),
vocab{r} AS MATERIALIZED (SELECT piece, cnt,
               CAST(round(ln(cnt / tot) * 1e6, 0) AS BIGINT) AS lp
             FROM kept{r}, tot{r})"""

    return f"""
WITH RECURSIVE
t AS (SELECT unnest(string_split_regex(lower(text), '{RE2_WS}')) AS w
      FROM documents WHERE doc_id < {docs}),
wfa AS MATERIALIZED (SELECT w, CAST(count(*) AS BIGINT) AS wf
        FROM t WHERE w <> '' GROUP BY w),
wfe AS MATERIALIZED (SELECT w, wf FROM wfa WHERE length(w) <= {wlen}),
sub AS (SELECT unnest(flatten(list_transform(range(1, length(w) + 1),
          i -> list_transform(range(i, least(i + {plen} - 1, length(w)) + 1),
                              j -> substr(w, i, j - i + 1))))) AS piece, wf
        FROM wfa),
p0 AS MATERIALIZED (SELECT piece, CAST(sum(wf) AS BIGINT) AS cnt
       FROM sub GROUP BY piece ORDER BY cnt DESC, piece LIMIT {seedv}),
tot0 AS MATERIALIZED (SELECT sum(cnt) AS tot FROM p0),
vocab0 AS MATERIALIZED (SELECT piece,
             CAST(round(ln(cnt / tot) * 1e6, 0) AS BIGINT) AS lp
           FROM p0, tot0),
chars AS MATERIALIZED (SELECT DISTINCT substr(w, i, 1) AS piece
          FROM wfe, unnest(range(1, length(w) + 1)) AS u(i)){em_round(1, "vocab0")}{em_round(2, "vocab1")}
SELECT piece, cnt, lp AS logp_micro FROM vocab2
"""


CORPUS_INVENTORY["text_unigram_train"] = (q_text_unigram_train,
                                          _sql_uni_train())


def q_text_unigram_tokenize(spark: SparkSession, sf: str) -> DataFrame:
    """Tokenizer inference with the trained unigram vocab
    (operators/text.unigram_tokenize): train on the bounded slice, then
    Viterbi-tokenize the slice corpus and report every (token, cnt) —
    the unigram analog of text_bpe_tokenize.  Same slice bounds as
    text_unigram_train (they bound the ORACLE's path enumeration, not
    the operator)."""
    from kstream_spark.operators.text import unigram_tokenize, unigram_train
    docs = _docs(spark, sf).filter(F.col("doc_id") < _UNT_DOCS)
    vocab = [(r["piece"], int(r["logp_micro"])) for r in
             unigram_train(docs, "text", seed_v=_UNT_SEED_V,
                           keep_v=_UNT_KEEP_V, iters=2,
                           max_piece_len=_UNT_PLEN,
                           max_word_len=_UNT_WLEN).collect()]
    return unigram_tokenize(docs, "text", vocab,
                            max_piece_len=_UNT_PLEN,
                            max_word_len=_UNT_WLEN)


def _sql_uni_tokenize() -> str:
    """Replay training (both EM rounds), then one more Viterbi pass under
    the FINAL vocab (vocab2 + OOV floor chars) and count the segmented
    pieces — the apply-the-model round, exactly unigram_tokenize."""
    train = _sql_uni_train()
    ctes = train.rsplit("\nSELECT piece, cnt, lp AS logp_micro", 1)[0]
    oov = _UNI_OOV
    return f"""{ctes},
allp3 AS MATERIALIZED (SELECT piece, lp FROM vocab2
          UNION ALL
          SELECT c.piece, CAST({oov} AS BIGINT) AS lp
          FROM chars c
          WHERE c.piece NOT IN (SELECT piece FROM vocab2)),
seg3 AS (SELECT w, wf, 0 AS pos, CAST(0 AS BIGINT) AS score,
                CAST(0 AS BIGINT) AS np,
                []::VARCHAR[] AS pieces
         FROM wfe
         UNION ALL
         SELECT s.w, s.wf, s.pos + length(p.piece),
                s.score + p.lp, s.np + 1,
                list_append(s.pieces, p.piece)
         FROM seg3 s JOIN allp3 p
           ON substr(s.w, s.pos + 1, length(p.piece)) = p.piece
         WHERE s.pos < length(s.w)),
best3 AS MATERIALIZED (SELECT w, wf, pieces
          FROM (SELECT *, row_number() OVER (PARTITION BY w
                  ORDER BY score DESC, np ASC,
                           list_transform(list_reverse(pieces),
                                          x -> length(x)) DESC) AS rn
                FROM seg3 WHERE pos = length(w))
          WHERE rn = 1)
SELECT token, CAST(sum(wf) AS BIGINT) AS cnt
FROM (SELECT wf, unnest(pieces) AS token FROM best3)
GROUP BY token
"""


CORPUS_INVENTORY["text_unigram_tokenize"] = (q_text_unigram_tokenize,
                                             _sql_uni_tokenize())


def q_corpus_fertility(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source tokenizer fertility (tokens per word) under the trained
    unigram vocab — the number a token-budgeted mixing step actually
    prices sources by.  Same bounded slice as text_unigram_train; the
    per-word piece counts broadcast-join back onto the (source, word)
    relation, so the corpus side never shuffles wider than its distinct
    words.  Fertility ships as round-half-up integer micro units via
    pure BIGINT arithmetic."""
    from kstream_spark.operators.text import (unigram_train,
                                              unigram_viterbi_stats)
    docs = _docs(spark, sf).filter(F.col("doc_id") < _UNT_DOCS)
    vocab = [(r["piece"], int(r["logp_micro"])) for r in
             unigram_train(docs, "text", seed_v=_UNT_SEED_V,
                           keep_v=_UNT_KEEP_V, iters=2,
                           max_piece_len=_UNT_PLEN,
                           max_word_len=_UNT_WLEN).collect()]
    stats = unigram_viterbi_stats(docs, "text", vocab,
                                  max_piece_len=_UNT_PLEN) \
        .select("w", "n_pieces")
    ws = (docs.select(
        "source",
        F.explode(F.filter(F.split(F.lower("text"), r"\s+"),
                           lambda w: w != F.lit(""))).alias("w"))
        .filter(F.length("w") <= _UNT_WLEN)
        .groupBy("source", "w").agg(F.count("*").cast("long").alias("c")))
    per = (ws.join(F.broadcast(stats), "w")
           .groupBy("source")
           .agg(F.sum("c").cast("long").alias("n_words"),
                F.sum(F.col("c") * F.col("n_pieces")).cast("long")
                .alias("n_tokens")))
    return per.withColumn("fertility_micro", F.expr(
        "(2000000 * n_tokens + n_words) div (2 * n_words)"))


def _sql_corpus_fertility() -> str:
    tok = _sql_uni_tokenize()
    ctes = tok.rsplit("\nSELECT token,", 1)[0]
    return f"""{ctes},
np AS MATERIALIZED (SELECT w, CAST(len(pieces) AS BIGINT) AS np
                    FROM best3),
wsrc AS (SELECT source, w, CAST(count(*) AS BIGINT) AS c
         FROM (SELECT source,
                      unnest(string_split_regex(lower(text), '{RE2_WS}')) AS w
               FROM documents WHERE doc_id < {_UNT_DOCS})
         WHERE w <> '' AND length(w) <= {_UNT_WLEN}
         GROUP BY source, w),
agg AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_words,
               CAST(sum(c * np) AS BIGINT) AS n_tokens
        FROM wsrc JOIN np USING (w) GROUP BY source)
SELECT source, n_words, n_tokens,
       (2000000 * n_tokens + n_words) // (2 * n_words) AS fertility_micro
FROM agg
"""


CORPUS_INVENTORY["corpus_fertility"] = (q_corpus_fertility,
                                        _sql_corpus_fertility())
