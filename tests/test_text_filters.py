"""Corpus-filter rule stacks (Gopher / C4) and the entropy signal.

The registered queries run these on the punctuation-free single-line
fixture; the full rule surface (terminal punctuation, drop markers,
bullet / ellipsis line fractions, multi-line reassembly) is only
reachable with synthetic documents — that is what these tests pin.
"""

import math
import sys

sys.path.insert(0, "/root/repo")

from kstream_spark.operators import text as TX  # noqa: E402


def _by_id(rows):
    return {r["doc_id"]: r.asDict() for r in rows}


def test_gopher_filter_rule_reasons(spark):
    docs = [
        # passes every rule: 55 in-range words incl. >=2 stop words
        (1, " ".join(["the", "be", "of", "and"] + ["data"] * 51)),
        # too short -> word_count
        (2, "the be tiny doc"),
        # no stop words at all -> stopwords
        (3, " ".join(["alpha", "beta", "gamma"] * 20)),
        # symbol soup -> symbol_ratio (and stopword fail)
        (4, " ".join(["the", "be"] + ["###"] * 58)),
        # long words -> mean_word_len
        (5, " ".join(["the", "be"] + ["x" * 30] * 58)),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    out = _by_id(TX.gopher_filter(df, "doc_id", "text").collect())
    assert out[1]["keep"] and out[1]["fail_reasons"] == ""
    assert not out[2]["keep"] and "word_count" in out[2]["fail_reasons"]
    assert out[3]["fail_reasons"] == "stopwords"
    assert "symbol_ratio" in out[4]["fail_reasons"]
    assert "mean_word_len" in out[5]["fail_reasons"]
    # signals the rules read are exposed for audit
    assert out[3]["n_stopwords"] == 0 and out[1]["n_stopwords"] >= 2


def test_gopher_filter_line_rules(spark):
    bullets = "\n".join(["- point"] * 9 + ["prose line"])
    dots = "\n".join(["watch this space..."] * 4 + ["closing line"] * 6)
    df = spark.createDataFrame([(1, bullets), (2, dots)], ["doc_id", "text"])
    out = _by_id(TX.gopher_filter(df, "doc_id", "text").collect())
    assert out[1]["bullet_line_frac"] == 0.9      # exactly at the bound: keep
    assert "bullet_lines" not in out[1]["fail_reasons"]
    assert out[2]["ellipsis_line_frac"] == 0.4
    assert "ellipsis_lines" in out[2]["fail_reasons"]


def test_c4_line_clean_rules(spark):
    text = "\n".join([
        "This sentence has enough words to stay in the corpus.",   # keep
        "Too short.",                                              # < 5 words
        "no terminal punctuation on this line here",               # punct
        "Enable javascript to view this page properly please.",    # marker
        "  Another good sentence survives with surrounding spaces. ",  # keep
        "",                                                        # blank
    ])
    df = spark.createDataFrame([(1, text)], ["doc_id", "text"])
    row = TX.c4_line_clean(df, "doc_id", "text").collect()[0]
    assert row["n_lines"] == 5          # blank line never counts
    assert row["n_kept_lines"] == 2
    assert row["clean_text"] == (
        "This sentence has enough words to stay in the corpus.\n"
        "Another good sentence survives with surrounding spaces.")


def test_c4_line_clean_empty_result_hashes_empty_string(spark):
    df = spark.createDataFrame([(1, "all lines fail")], ["doc_id", "text"])
    row = TX.c4_line_clean(df, "doc_id", "text").collect()[0]
    assert row["clean_text"] == ""
    assert row["clean_hash"] == "d41d8cd98f00b204e9800998ecf8427e"


def test_doc_entropy_known_values(spark):
    df = spark.createDataFrame(
        [(1, "a a a a"),          # one symbol -> H = 0
         (2, "a b c d"),          # uniform over 4 -> H = 2 bits
         (3, "a a b"),            # H = log2(3) - (2*1)/3
         (4, "")],                # empty doc
        ["doc_id", "text"])
    out = _by_id(TX.doc_entropy(df, "doc_id", "text").collect())
    assert out[1]["entropy"] == 0.0 and out[1]["norm_entropy"] == 0.0
    assert out[2]["entropy"] == 2.0 and out[2]["norm_entropy"] == 1.0
    expect = round(math.log2(3) - 2.0 / 3.0, 6)
    assert out[3]["entropy"] == expect
    assert out[3]["norm_entropy"] == 0.918296  # H / log2(2 distinct)
    assert out[4]["entropy"] == 0.0 and out[4]["n_words"] == 0


def test_filters_null_text_is_empty_doc(spark):
    """NULL text must behave as an empty document everywhere: gopher
    rejects it WITH a recorded reason (never a NULL keep that vanishes
    from both the kept set and the audit), c4 yields an empty clean
    text, entropy yields zeros."""
    df = spark.createDataFrame([(1, None), (2, "the be " + "data " * 60)],
                               "doc_id long, text string")
    g = {r.doc_id: r for r in TX.gopher_filter(df, "doc_id", "text").collect()}
    assert g[1]["keep"] is False
    assert "word_count" in g[1]["fail_reasons"]
    assert g[2]["keep"] is True
    c = {r.doc_id: r for r in TX.c4_line_clean(df, "doc_id", "text").collect()}
    assert c[1]["n_lines"] == 0 and c[1]["clean_text"] == ""
    e = {r.doc_id: r for r in TX.doc_entropy(df, "doc_id", "text").collect()}
    assert e[1]["n_words"] == 0 and e[1]["entropy"] == 0.0


def test_viterbi_batch_matches_scalar():
    """The numpy batch Viterbi (_viterbi_pieces_batch, the r11 perf path
    under unigram train/tokenize) must reproduce the scalar DP's piece
    sequences EXACTLY — same max-score / fewest-pieces / longest-last
    tie-breaks — for random vocabularies and words, padding and
    word-length skew included."""
    import random

    from kstream_spark.operators.text import (_viterbi_pieces,
                                              _viterbi_pieces_batch)
    rng = random.Random(7)
    alphabet = "abcd"
    for trial in range(10):
        pieces = {"".join(rng.choice(alphabet)
                          for _ in range(rng.randint(1, 4)))
                  for _ in range(rng.randint(2, 40))}
        lp = {p: rng.randint(-3_000_000, -100_000) for p in pieces}
        ws = ["".join(rng.choice(alphabet)
                      for _ in range(rng.randint(0, 12)))
              for _ in range(rng.randint(1, 80))]
        want = [_viterbi_pieces(w, lp, 4, -20_000_000) for w in ws]
        got = _viterbi_pieces_batch(ws, lp, 4, -20_000_000)
        assert got == want, trial
    assert _viterbi_pieces_batch([], {"a": -1}, 4, -5) == []


def test_lit_strings_parity_with_elementwise(spark):
    """functions/text.lit_strings (the one-expr string-array literal,
    the §17 py4j-wall fix applied to lang_id_ngram's profile grams) must
    build the IDENTICAL array literal as the element-wise F.lit path —
    including quotes, backslashes, and non-ASCII — and fall back to the
    element-wise path for control characters rather than trusting the
    SQL lexer with raw control bytes."""
    from pyspark.sql import functions as F

    from kstream_spark.functions.text import lit_strings

    adversarial = [
        "plain", "", "it's", 'he said "hi"', "back\\slash",
        "quote\\'combo", "\\", "'", "''", "naïve", "日本語",
        "emoji🙂pair", "nbsp inside", " sep",
    ]
    one = spark.range(1).select(lit_strings(adversarial).alias("a"),
                                F.array(*[F.lit(s) for s in adversarial])
                                .alias("b")).collect()[0]
    assert one["a"] == one["b"] == adversarial
    # control characters route through the element-wise fallback
    ctl = ["tab\there", "new\nline", "bell\x07"]
    row = spark.range(1).select(lit_strings(ctl).alias("a")).collect()[0]
    assert row["a"] == ctl
    # empty input keeps the typed empty-array contract
    empty = spark.range(1).select(lit_strings([]).alias("a")).collect()[0]
    assert empty["a"] == []


def test_udtf_chunk_text_splits_like_its_oracle(spark, tmp_path):
    """The chunking UDTF splits words as the JVM and its DuckDB oracle do:
    a no-break space is not whitespace, and a NULL text has no chunks."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq
    from kstream_spark.inventory_extra import (SQL_UDTF_CHUNK_TEXT,
                                               q_udtf_chunk_text)
    texts = ["a\u00a0b c", None, " lead  and\ttrail ",
             " ".join(f"w{i}" for i in range(40))]
    pq.write_table(pa.table({"doc_id": pa.array(range(len(texts)),
                                                pa.int64()),
                             "text": pa.array(texts, pa.string())}),
                   tmp_path / "documents.parquet")
    got = sorted(tuple(r) for r in q_udtf_chunk_text(
        spark, str(tmp_path)).collect())
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"'{tmp_path}/documents.parquet'")
    want = sorted(con.execute(SQL_UDTF_CHUNK_TEXT).fetchall())
    assert got == want
    assert (0, 0, "a\u00a0b c", 2) in got
