"""Property-based tests (hypothesis) for corpus/sampling/behavior
invariants: packing covers every chunk with no gaps, domain mixing never
upsamples and keeps the rarest domain whole, sessionization matches a
sequential reference fold, SCD2 history reconstructs the latest state."""

from datetime import datetime, timedelta

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from kstream_spark.operators import behavior as B
from kstream_spark.operators import corpus as C
from kstream_spark.operators.sampling import domain_mix
from kstream_spark.operators.scd import scd2_history

SET = settings(max_examples=10, deadline=None,
               suppress_health_check=list(HealthCheck))


def _spark():
    from kstream_spark import get_spark
    return get_spark(shuffle_partitions=4)


DOCS = st.lists(
    st.tuples(st.integers(0, 500),                      # doc_id (deduped below)
              st.text(alphabet="ab ", min_size=0, max_size=40)),
    min_size=1, max_size=25, unique_by=lambda t: t[0])


@SET
@given(DOCS, st.integers(1, 7))
def test_pack_chunks_dense_cover(docs, capacity):
    """Chunks are a gapless 0..max cover per shard and token counts match
    a driver-side recount."""
    spark = _spark()
    df = spark.createDataFrame(docs, "doc_id long, text string")
    rows = C.pack_chunks(df, "doc_id", "text", capacity=capacity,
                         n_shards=2).collect()
    by_shard: dict = {}
    for r in rows:
        assert r["tokens"] == len([w for w in
                                   dict(docs)[r["doc_id"]].lower().split()
                                   if w])
        assert r["chunk_first"] <= r["chunk_last"]
        by_shard.setdefault(r["shard"], []).append(r)
    for shard, rs in by_shard.items():
        covered = set()
        for r in rs:
            covered |= set(range(r["chunk_first"], r["chunk_last"] + 1))
        total = sum(r["tokens"] for r in rs)
        expect_last = max(0, (total - 1)) // capacity
        assert covered == set(range(expect_last + 1))


DOMAINS = st.lists(
    st.tuples(st.integers(0, 300), st.sampled_from(["a", "b", "c"])),
    min_size=2, max_size=40, unique_by=lambda t: t[0])


@SET
@given(DOMAINS)
def test_domain_mix_never_upsamples_and_keeps_rarest(domains):
    spark = _spark()
    df = spark.createDataFrame(domains, "doc_id long, lang string")
    kept = domain_mix(df, "doc_id", "lang").collect()
    from collections import Counter
    before = Counter(l for _, l in domains)
    after = Counter(r["lang"] for r in kept)
    rare = min(before, key=lambda l: (before[l], l))
    rare_n = before[rare]
    for lang, n in after.items():
        assert n <= before[lang]
    # every language with the minimum count is kept in full (keep_frac 1)
    for lang, n in before.items():
        if n == rare_n:
            assert after[lang] == n
    # kept ids are a subset of input ids
    assert {r["doc_id"] for r in kept} <= {d for d, _ in domains}


EVENTS = st.lists(
    st.tuples(st.integers(0, 3),                 # user
              st.integers(0, 300)),              # minutes offset
    min_size=1, max_size=40)


@SET
@given(EVENTS, st.integers(5, 60))
def test_sessionize_matches_sequential_fold(events, gap_min):
    spark = _spark()
    base = datetime(2024, 1, 1)
    rows = [(i, u, base + timedelta(minutes=m))
            for i, (u, m) in enumerate(events)]
    df = spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp")
    got = {r["event_id"]: r["session_n"] for r in
           B.sessionize(df, "user_id", "ts", f"{gap_min} minutes",
                        id_col="event_id").collect()}
    # sequential reference: per user, ordered by (ts, id), bump on gap
    want = {}
    per_user: dict = {}
    for i, u, ts in sorted(rows, key=lambda r: (r[1], r[2], r[0])):
        last, n = per_user.get(u, (None, 0))
        if last is None or (ts - last) > timedelta(minutes=gap_min):
            n += 1
        per_user[u] = (ts, n)
        want[i] = n
    assert got == want


CHANGES = st.lists(
    st.tuples(st.integers(0, 3),                 # key
              st.sampled_from(["x", "y", None]),  # attr
              st.integers(0, 100)),              # minutes
    min_size=1, max_size=30)


@SET
@given(CHANGES)
def test_scd2_current_state_matches_last_value(changes):
    """The is_current row of every key equals the key's attribute at max
    timestamp (ties broken by event id), and intervals chain without
    overlap."""
    spark = _spark()
    base = datetime(2024, 1, 1)
    rows = [(i, k, a, base + timedelta(minutes=m))
            for i, (k, a, m) in enumerate(changes)]
    df = spark.createDataFrame(rows, "event_id long, user_id long,"
                               " tier string, ts timestamp")
    hist = scd2_history(df, "user_id", ["tier"], "ts",
                        id_col="event_id").collect()
    last = {}
    for i, k, a, ts in sorted(rows, key=lambda r: (r[3], r[0])):
        last[k] = a
    cur = {r["user_id"]: r["tier"] for r in hist if r["is_current"]}
    assert cur == last
    by_key: dict = {}
    for r in hist:
        by_key.setdefault(r["user_id"], []).append(r)
    for k, rs in by_key.items():
        rs.sort(key=lambda r: r["valid_from"])
        assert sum(r["is_current"] for r in rs) == 1
        for a, b in zip(rs, rs[1:]):
            assert a["valid_to"] == b["valid_from"]


WORD_DOCS = st.lists(
    st.tuples(st.integers(0, 100),
              st.lists(st.sampled_from("abcd"), min_size=1, max_size=12)
              .map(" ".join)),
    min_size=1, max_size=12, unique_by=lambda t: t[0])


@SET
@given(WORD_DOCS, st.integers(1, 5))
def test_span_dedup_roundtrip_and_reference(docs, span):
    """With the hot threshold effectively infinite, every doc round-trips
    verbatim; with max_docs=1, the result matches a sequential reference
    implementation (segment -> count distinct docs -> filter -> stitch)."""
    spark = _spark()
    df = spark.createDataFrame(docs, "doc_id long, text string")

    # threshold above corpus size -> nothing dropped, text reassembles
    out = {r["doc_id"]: r for r in
           C.span_dedup(df, "doc_id", "text", span=span,
                        max_docs=10**6).collect()}
    for did, text in docs:
        assert out[did]["clean_text"] == text
        assert out[did]["n_spans_dropped"] == 0

    # reference fold for max_docs=1
    segs = {}
    for did, text in docs:
        toks = text.split(" ")
        segs[did] = [" ".join(toks[i:i + span])
                     for i in range(0, len(toks), span)]
    from collections import Counter
    docfreq = Counter(s for did in segs for s in set(segs[did]))
    want = {}
    for did in segs:
        kept = [s for s in segs[did] if docfreq[s] <= 1]
        if kept:
            want[did] = " ".join(kept)
    got = {r["doc_id"]: r["clean_text"] for r in
           C.span_dedup(df, "doc_id", "text", span=span,
                        max_docs=1).collect()}
    assert got == want


@SET
@given(WORD_DOCS, st.integers(2, 4), st.integers(2, 5))
def test_winnow_pairs_matches_reference(docs, k, window):
    """winnow_pairs equals a sequential reference fold (k-gram md5s ->
    sliding-window minima -> distinct fingerprint sets -> pair counts) on
    hypothesis-generated corpora across k/window settings."""
    import hashlib
    from collections import defaultdict

    from kstream_spark.operators.dedup import winnow_pairs

    spark = _spark()
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {(r.doc_a, r.doc_b): r.n_shared
           for r in winnow_pairs(df, "doc_id", "text", k=k, window=window,
                                 max_fp_df=None).collect()}

    fps = {}
    for did, text in docs:
        toks = text.lower().split(" ")
        hs = [hashlib.md5(f"winnow:{' '.join(toks[i:i + k])}".encode())
              .hexdigest() for i in range(len(toks) - k + 1)]
        if not hs:
            fps[did] = set()
            continue
        nwin = max(len(hs) - window + 1, 1)
        fps[did] = {min(hs[j:j + window]) for j in range(nwin)}
    want = defaultdict(int)
    ids = sorted(fps)
    for i, a in enumerate(ids):
        for b_ in ids[i + 1:]:
            n = len(fps[a] & fps[b_])
            if n >= 1:
                want[(a, b_)] = n
    assert got == dict(want)


# -- unigram Viterbi DP vs exhaustive path enumeration -----------------------
_UNI_WORDS = st.text(alphabet="abc", min_size=1, max_size=9)
_UNI_VOCAB = st.dictionaries(
    st.text(alphabet="abc", min_size=1, max_size=3),
    st.integers(-1_000_000, -1), min_size=1, max_size=12)


def _all_segmentations(word, lp, max_len, oov):
    """Every segmentation as (score, n_pieces, pieces), OOV floor for
    vocab-missing single chars — the reference the SQL oracle enumerates."""
    if not word:
        return [(0, 0, [])]
    out = []
    for l in range(1, min(max_len, len(word)) + 1):
        p = word[:l]
        plp = lp.get(p)
        if plp is None:
            if l != 1:
                continue
            plp = oov
        for s, n, rest in _all_segmentations(word[l:], lp, max_len, oov):
            out.append((plp + s, n + 1, [p] + rest))
    return out


@SET
@given(_UNI_WORDS, _UNI_VOCAB)
def test_viterbi_dp_matches_exhaustive_enumeration(word, lp):
    """_viterbi_best == the max over ALL segmentations under the DP's
    total order (score desc, fewest pieces), and _viterbi_pieces returns
    exactly the path the oracle's (score DESC, np ASC, revlens DESC)
    ordering picks — the equivalence the recursive-CTE oracles rely on."""
    from kstream_spark.operators.text import _viterbi_best, _viterbi_pieces
    oov = -5_000_000
    paths = _all_segmentations(word, lp, 3, oov)
    assert paths  # single-char OOV floor makes every word segmentable
    best_score, best_np, _ = max(paths, key=lambda t: (t[0], -t[1]))
    assert _viterbi_best(word, lp, 3, oov) == (best_score, best_np)
    want = max(paths, key=lambda t: (
        t[0], -t[1], [len(p) for p in reversed(t[2])]))[2]
    assert _viterbi_pieces(word, lp, 3, oov) == want


@SET
@given(st.lists(st.lists(st.floats(-1, 1, allow_nan=False, width=32),
                         min_size=6, max_size=6),
                min_size=1, max_size=8))
def test_random_projection_is_linear_in_known_basis(vecs):
    """Projection of any vector equals the sign-weighted sum of its
    components (checked against a numpy replay of the same literal
    matrix), up to the documented round-6."""
    import numpy as np
    from kstream_spark.operators.vectors import (random_projection,
                                                 rp_sign_matrix)
    spark = _spark()
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>")
    got = {r["vec_id"]: r["rp"] for r in
           random_projection(df, "embedding", 6, 4).collect()}
    S = np.array(rp_sign_matrix(6, 4), dtype=np.float64)
    for i, v in enumerate(vecs):
        want = (S @ np.array(v, dtype=np.float64)) * 0.5
        assert np.allclose(got[i], want, atol=1e-6)


@given(st.text(alphabet="ab", min_size=1, max_size=8),
       st.sets(st.text(alphabet="ab", min_size=2, max_size=4), max_size=6))
@settings(max_examples=200, deadline=None)
def test_maxmatch_is_lexicographically_largest_length_path(word, vocab):
    """The equivalence the text_wordpiece_tokenize oracle relies on:
    greedy longest-match-first == the full segmentation with the
    lexicographically LARGEST piece-length sequence, over pieces drawn
    from (vocab | single chars)."""
    from kstream_spark.operators.text import _maxmatch_pieces
    maxlen = max([len(p) for p in vocab], default=1)
    got = _maxmatch_pieces(word, vocab, maxlen)
    assert "".join(got) == word

    def paths(pos):
        if pos == len(word):
            yield []
            return
        for l in range(1, min(maxlen, len(word) - pos) + 1):
            p = word[pos:pos + l]
            if l == 1 or p in vocab:
                for rest in paths(pos + l):
                    yield [p] + rest

    best = max(paths(0), key=lambda ps: [len(p) for p in ps])
    assert got == best


@given(st.lists(st.text(alphabet="ab ", min_size=6, max_size=40),
                min_size=2, max_size=8, unique=True))
@settings(max_examples=25, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_prefix_filter_is_lossless(spark, docs):
    """prefix_jaccard_pairs == ngram_jaccard_pairs on arbitrary corpora:
    the prefix filter may only shrink CANDIDATES, never results."""
    from kstream_spark.operators.dedup import (ngram_jaccard_pairs,
                                               prefix_jaccard_pairs)
    rows = [(i, d) for i, d in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    full = {(r.doc_a, r.doc_b, r.jaccard) for r in
            ngram_jaccard_pairs(df, "doc_id", "text", n=2,
                                threshold=0.6).collect()}
    pref = {(r.doc_a, r.doc_b, r.jaccard) for r in
            prefix_jaccard_pairs(df, "doc_id", "text", n=2,
                                 threshold=0.6).collect()}
    assert pref == full


# Java \s members, NBSP / ideographic space (not Java \s) and a
# dotted capital I (JVM lower-casing)
_WS_TEXT = st.one_of(st.none(), st.text(
    alphabet=list("aB \t\n\x0b\f\r\xa0　İ"), max_size=16))


@given(st.lists(_WS_TEXT, min_size=1, max_size=12), st.integers(1, 4))
@settings(max_examples=25, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_py_word_shingles_matches_jvm(spark, texts, n):
    """The Python shingler (mapInPandas arms) equals the JVM
    ``word_shingles`` over JVM-lowered text, element for element: NULL,
    fewer than n words, NBSP, VT, tabs and leading/trailing
    whitespace included."""
    import pyspark.sql.functions as F

    from kstream_spark.functions.text import py_word_shingles, word_shingles
    df = spark.createDataFrame(list(enumerate(texts)), "i long, t string")
    for r in df.select(F.lower("t").alias("lt"),
                       word_shingles(F.col("t"), n).alias("sh")).collect():
        assert py_word_shingles(r.lt, n) == list(r.sh)


@given(st.lists(_WS_TEXT.filter(lambda t: t is not None), min_size=1,
                max_size=12))
@SET
def test_oracle_word_split_matches_py_words(texts):
    """The DuckDB oracles split words with ``RE2_WS``, Java's ``\\s`` run:
    RE2's own ``\\s+`` keeps 'a' VT 'b' as one word."""
    import duckdb

    from kstream_spark.functions.text import RE2_WS, py_words
    con = duckdb.connect()
    split = f"string_split_regex(?, '{RE2_WS}')"
    assert con.execute(f"SELECT string_split_regex('a'||chr(11)||'b c', "
                       f"'{RE2_WS}')").fetchone()[0] \
        == py_words("a\x0bb c") == ["a", "b", "c"]
    for t in texts:
        assert con.execute(f"SELECT {split}", [t]).fetchone()[0] \
            == py_words(t), repr(t)
