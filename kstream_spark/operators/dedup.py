"""Deduplication operators for large-scale training-data pipelines.

Capability superset over the reference (its only dedup is per-record-UUID
exactly-once, consumer/consumer.go:16-26); these are the document-level
dedup families a 100 TB text corpus needs.

Scale design:
  * exact_dedup       — one hash-groupBy; map-side partial agg; no sort.
  * ngram_jaccard     — inverted-index self-join on shingle.  The classic
                        hot-key hazard is stop-shingles appearing in most
                        docs; ``max_shingle_df`` drops shingles whose doc
                        frequency exceeds the cap BEFORE the join (at scale
                        set it ~0.1% of corpus; also a correctness win — a
                        shingle in every doc carries no signal).
  * minhash_lsh       — per-doc band hashes and sorted shingle array in
                        one shuffle-free doc-local pass, band-bucket
                        self-join (only docs sharing a band bucket meet),
                        exact-Jaccard verification of the candidate set.
                        This is the 100 TB path: candidate generation cost
                        is ~|bucket|² summed over buckets, not |corpus|².
                        Hashes are md5-hex strings (functions/text.py) so the
                        DuckDB oracle reproduces signatures exactly.

Every pair operator is one pipeline: per-doc keys (shingles, band hashes,
fingerprints, chunks) -> ``shared_key_pairs`` (the one join of docs on a
shared key) -> one verify per metric (``_jaccard_on_pairs`` for Jaccard,
``multimodal.banded_hamming_pairs`` for Hamming).  A doc with no shingles
has no signature and pairs with nothing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kstream_spark.functions.text import (content_hash, hash_str,
                                          py_word_shingles, word_shingles)

NUM_HASHES = 16
BANDS = 4


def exact_dedup(df: DataFrame, id_col: str, text_col: str,
                normalize: bool = True) -> DataFrame:
    """Keep the lowest-id survivor per identical (normalized) text.
    Returns (id, content_hash, group_size)."""
    h = content_hash(F.col(text_col), normalize=normalize)
    return (
        df.select(F.col(id_col), h.alias("content_hash"))
        .groupBy("content_hash")
        .agg(F.min(id_col).alias(id_col), F.count("*").alias("group_size"))
        .select(id_col, "content_hash", "group_size")
    )


def shingle_sets(df: DataFrame, id_col: str, text_col: str, n: int = 3,
                 max_shingle_df: int | None = None) -> DataFrame:
    """(id, shingle) distinct pairs — the inverted-index relation.

    ``array_distinct`` before the explode makes rows per-doc unique already —
    no global distinct (that would be a full shuffle of the largest relation
    for nothing)."""
    from kstream_spark.util import FANOUT_MIN_BYTES, ensure_parallelism
    sh = ensure_parallelism(df, min_bytes=FANOUT_MIN_BYTES).select(
        F.col(id_col),
        F.explode(F.array_distinct(word_shingles(F.col(text_col), n)))
        .alias("s"))
    if max_shingle_df is not None:
        keep = sh.groupBy("s").agg(F.count("*").alias("df")) \
                 .filter(F.col("df") <= max_shingle_df).select("s")
        sh = sh.join(keep, "s")
    return sh


def shared_key_pairs(df: DataFrame, id_col: str, keys: list[str],
                     a: str = "doc_a", b: str = "doc_b",
                     carry: tuple[str, ...] = (),
                     other: DataFrame | None = None) -> DataFrame:
    """The shared-key join of the near-dup family: one row per (a, b,
    key) where docs ``a`` and ``b`` share the key value.

    ``df`` is (id, keys..., carry...); each ``carry`` column c comes out
    as ``c + "a"`` / ``c + "b"``.  Without ``other`` it is a self-join
    with ``a < b`` (every unordered pair once); with ``other`` the ``a``
    side is ``df`` and the ``b`` side is ``other`` (new-vs-corpus), with
    no ordering.  Callers add ``.distinct()`` for candidates, or a count
    for shared-key counts.  Cost is ~|bucket|² summed over key values,
    never all-pairs."""
    def side(d: DataFrame, name: str, suffix: str) -> DataFrame:
        return d.select(F.col(id_col).alias(name),
                        *[F.col(c).alias(c + suffix) for c in carry], *keys)

    pairs = side(df, a, "a").join(
        side(df if other is None else other, b, "b"), keys)
    return pairs.filter(F.col(a) < F.col(b)) if other is None else pairs


def _jaccard_on_pairs(cand: DataFrame, sets: DataFrame, id_col: str,
                      threshold: float, a: str = "doc_a",
                      b: str = "doc_b",
                      other: DataFrame | None = None) -> DataFrame:
    """Exact-Jaccard verify of candidate (a, b) pairs -> (a, b, jaccard)
    for jaccard >= threshold, rounded to 6 dp.

    ``sets`` is the per-doc (id, ss sorted shingle array, n set size)
    relation; ``other`` is the ``b`` side's when it differs
    (new-vs-corpus).  Each candidate joins both sides by doc id and
    intersects the arrays — never re-exploding candidates through the
    (doc, shingle) relation, which shuffles |cand| x avg_shingles rows."""
    sa = sets.select(F.col(id_col).alias(a),
                     F.col("ss").alias("ssa"), F.col("n").alias("na"))
    sb = (sets if other is None else other).select(
        F.col(id_col).alias(b), F.col("ss").alias("ssb"),
        F.col("n").alias("nb"))
    i = F.size(F.array_intersect("ssa", "ssb")).cast("long")
    j = i / (F.col("na") + F.col("nb") - i)
    return (cand.join(sa, a).join(sb, b)
            .filter(j >= threshold)
            .select(a, b, F.round(j, 6).alias("jaccard")))


def _shingle_intersections(df: DataFrame, id_col: str, text_col: str,
                           n: int, max_shingle_df: int | None) -> DataFrame:
    """(doc_a, doc_b, na, nb, i): every doc pair sharing a shingle, with
    both set sizes and the intersection size, straight off the shingle
    self-join aggregation.

    The set size is a per-doc constant: it is windowed onto the inverted
    index once and CARRIED through the self-join (constant within each
    group, so it rides in the groupBy key) — no separate sizes
    aggregation and no post-aggregation re-joins.  Both join sides read
    the sized index, so it is persisted once."""
    from pyspark.sql import Window as W
    from kstream_spark.util import owned
    sh = shingle_sets(df, id_col, text_col, n, max_shingle_df)
    sized = owned(sh.withColumn("n", F.count("*").over(W.partitionBy(id_col)))
                  .persist())
    return (shared_key_pairs(sized, id_col, ["s"], carry=("n",))
            .groupBy("doc_a", "doc_b", "na", "nb")
            .agg(F.count("*").alias("i")))


def ngram_jaccard_pairs(df: DataFrame, id_col: str, text_col: str, n: int = 3,
                        threshold: float = 0.8,
                        max_shingle_df: int | None = None) -> DataFrame:
    """All pairs with shingle-set Jaccard >= threshold (exact, inverted index).

    Intersections come straight off the shingle self-join aggregation — no
    intermediate distinct-pairs relation (that would re-shuffle the largest
    relation twice for nothing; the LSH path needs the candidate step, the
    exact path does not)."""
    inter = _shingle_intersections(df, id_col, text_col, n, max_shingle_df)
    j = F.col("i") / (F.col("na") + F.col("nb") - F.col("i"))
    return (
        inter.filter(j >= threshold)
        .select("doc_a", "doc_b", F.round(j, 6).alias("jaccard"))
    )


def winnow_pairs(df: DataFrame, id_col: str, text_col: str, k: int = 4,
                 window: int = 4, min_shared: int = 1,
                 max_fp_df: int | None = 20) -> DataFrame:
    """Winnowing-fingerprint shared-substring pairs (Schleimer et al. 2003,
    the MOSS algorithm — public paper).

    Every positional k-gram is hashed; each sliding window of ``window``
    consecutive hashes contributes its MINIMUM as a fingerprint.  The
    winnowing guarantee: two documents sharing a verbatim token run of at
    least ``window + k - 1`` tokens share at least one fingerprint — exact
    substring-match detection at ~1/window the index density of indexing
    every k-gram.  Complements the family: span_dedup only sees ALIGNED
    fixed segments, Jaccard/MinHash measure whole-document set overlap;
    winnowing catches a long verbatim run at ANY offset.

    Returns (doc_a, doc_b, n_shared) pairs sharing >= ``min_shared``
    distinct fingerprints.  Scale shape: identical to the shingle inverted
    index (fingerprints are md5 strings, the self-join is equi-keyed and
    map-side pre-counted), but ~window-fold sparser; ``max_fp_df`` caps
    boilerplate fingerprints exactly like max_shingle_df caps shingles.
    CAPPED IS THE DEFAULT (max_fp_df=20): a fingerprint shared by >20
    docs is template noise contributing O(df^2) candidate pairs, and the
    uncapped pair space is measured superlinear (12.7x time at 10x data,
    SCALING.md r6-3b) — the cap is what bounds every bucket at 100 TB.
    Pass ``max_fp_df=None`` for the exact-complete pair set (the oracle
    baseline; documents dropped by the cap differ only in pairs whose
    ONLY shared fingerprints are >20-doc boilerplate).
    Documents shorter than k tokens emit no fingerprints; shorter than
    window+k-1 tokens emit the global-min fingerprint of what they have.
    """
    from kstream_spark.util import FANOUT_MIN_BYTES, ensure_parallelism, owned
    # MATERIALIZE the hash array before windowing: a lambda body that
    # references the hash EXPRESSION re-evaluates the whole
    # split -> shingle -> md5 chain per window position (O(n^2) md5 calls
    # per doc, ~40x slower measured); against a materialized column each
    # window is an O(window) slice
    hashed = ensure_parallelism(df, min_bytes=FANOUT_MIN_BYTES).select(
        F.col(id_col),
        F.transform(word_shingles(F.col(text_col), k),
                    lambda s: hash_str(s, "winnow")).alias("_hs"))
    hs = F.col("_hs")
    nwin = F.greatest(F.size(hs) - F.lit(window - 1), F.lit(1))
    fps = F.when(
        F.size(hs) >= 1,
        F.array_distinct(F.transform(
            F.sequence(F.lit(1), nwin),
            lambda j: F.array_min(F.slice(hs, j, window))))) \
        .otherwise(F.array().cast("array<string>"))
    fp = hashed.select(F.col(id_col), F.explode(fps).alias("f"))
    if max_fp_df is not None:
        # df cap as a count-window over f: one shuffle, no separate keep
        # relation to re-join (the keep-join read the md5 chain twice)
        from pyspark.sql import Window as W
        fp = fp.withColumn("_df", F.count("*").over(W.partitionBy("f"))) \
            .filter(F.col("_df") <= max_fp_df).drop("_df")
    # persist: the self-join references fp twice — uncached, the
    # split -> shingle -> md5 -> window-min chain (the expensive part)
    # re-derived per side (sf1 A/B: 6.2s -> 4.3s)
    fp = owned(fp.persist())
    return (shared_key_pairs(fp, id_col, ["f"])
            .groupBy("doc_a", "doc_b")
            .agg(F.count("*").cast("long").alias("n_shared"))
            .filter(F.col("n_shared") >= min_shared))


def containment_pairs(df: DataFrame, id_col: str, text_col: str, n: int = 3,
                      threshold: float = 0.9,
                      max_shingle_df: int | None = None) -> DataFrame:
    """Directed near-SUBSET pairs: (doc_a, doc_b, containment) where
    containment = |A∩B| / |A| >= threshold — doc_a's shingle set is almost
    entirely inside doc_b's.

    Jaccard misses subset duplication (a paragraph pasted into a much
    longer page scores low Jaccard but containment ~1), which is a major
    duplication mode in web corpora; Broder's containment measure is the
    standard answer.  Same intersections as ``ngram_jaccard_pairs``
    (``_shingle_intersections``), but each undirected intersection emits
    up to two directed rows (i/na and i/nb gates), so the join itself
    still runs once with doc_a < doc_b.

    Shape notes: the sized index is persisted, as for the Jaccard pairs.
    An r13 A/B at sf1 read the persist slower (7.6 s vs 7.0 s plain); a
    cold alternating A/B at sf0.1 on 4 cores reads it faster in 6 of 6
    pairs (median 2.43 s vs 2.82 s).  The slim no-window variants (sizes
    joined post-aggregation) measured slower still at sf1 (9.4–9.8 s).
    The threshold filter runs BEFORE the direction explode so only
    qualifying pairs double, not the full candidate-pair relation.
    """
    inter = _shingle_intersections(df, id_col, text_col, n, max_shingle_df)
    # prune BEFORE doubling: only pairs qualifying in at least one
    # direction reach the explode (the candidate relation is
    # pair-space-sized; the survivors are the result)
    hit = inter.filter((F.col("i") / F.col("na") >= threshold)
                       | (F.col("i") / F.col("nb") >= threshold))
    directed = hit.select(F.expr(
        "explode(array("
        "  struct(doc_a AS doc_a, doc_b AS doc_b, i / na AS containment),"
        "  struct(doc_b AS doc_a, doc_a AS doc_b, i / nb AS containment)"
        ")) AS r")).select("r.*")
    return (directed.filter(F.col("containment") >= threshold)
            .select("doc_a", "doc_b",
                    F.round("containment", 6).alias("containment")))


def _doc_local_minhash(df: DataFrame, id_col: str, text_col: str, n: int,
                       num_hashes: int, bands: int | None = None,
                       impl: str = "pandas") -> DataFrame:
    """Per-doc (signature, sorted shingle array, set size) in ONE
    shuffle-free doc-local pass — no exploded (doc, shingle) relation, no
    groupBy shuffle.  Two bit-identical implementations (pytest-pinned
    parity; hashlib md5 == JVM md5 == DuckDB md5, so either replays the
    SQL oracle bit-for-bit):

    * ``impl="pandas"`` (default): mapInPandas loop with a per-TASK
      shingle-digest memo — a shingle's num_hashes digests are a pure
      function of the shingle, and CORPUS dedup workloads are exactly the
      ones where shingles repeat across documents (near-dup clusters,
      boilerplate, re-crawls), so the md5 cost is O(distinct shingles)
      per task.  A/B at sf0.1 documents (5k long, near-dup-heavy docs):
      1.4s vs the codegen arm's 7.8s — the memo is the whole difference.
    * ``impl="codegen"``: whole-stage-codegen projection chain —
      ``h_i = array_min(transform(ss, s -> md5(i || ':' || s)))``, band
      hash = ``md5(concat(h...))``.  No Python, no Arrow transfer, no
      per-doc loop overhead; every shingle OCCURRENCE pays 16 JVM md5s.
      Wins ~4x on UNIQUE-heavy short-doc streams where the memo never
      hits (the 2M-record admission trigger: minhash 17.5s -> ~4s), loses
      on repetitive corpora.  streaming/corpus.admit_stream selects it.

    Pick by workload: repetition favors pandas, uniqueness favors
    codegen; the default is the corpus-query regime.

    With ``bands`` set, the LSH band hashes are computed in the same pass
    and the per-hash columns are dropped: the output carries ``bands``
    columns instead of ``num_hashes``, which shrinks both the downstream
    plan and any persisted signature store."""
    if impl == "pandas":
        return _doc_local_minhash_pandas(df, id_col, text_col, n,
                                         num_hashes, bands)
    if impl != "codegen":
        raise ValueError(f"impl must be pandas|codegen, got {impl!r}")
    with_ss = df.select(
        F.col(id_col),
        F.sort_array(F.array_distinct(word_shingles(F.col(text_col), n)))
        .alias("ss"))
    # array_min of an empty transform is NULL — exactly the no-shingle
    # signature the downstream band filter (n > 0) expects.  The hash
    # index binds via a factory, NOT a defaulted lambda parameter:
    # F.transform dispatches on lambda arity, so a second parameter
    # would receive the ELEMENT INDEX and silently replace the prefix.
    def _hash_i(i: int):
        return lambda s: F.md5(
            F.encode(F.concat(F.lit(f"{i}:"), s), "UTF-8"))

    hs = [F.array_min(F.transform(F.col("ss"), _hash_i(i)))
          .alias(f"h{i}") for i in range(num_hashes)]
    with_h = with_ss.select(
        F.col(id_col), "ss", F.size("ss").cast("long").alias("n"), *hs)
    if not bands:
        return with_h
    rows = num_hashes // bands
    band_cols = [
        F.when(F.col("n") > 0,
               F.md5(F.encode(F.concat(
                   *[F.col(f"h{i}") for i in range(b * rows,
                                                   (b + 1) * rows)]),
                   "UTF-8")))
        .alias(f"b{b}") for b in range(bands)]
    return with_h.select(F.col(id_col), "ss", "n", *band_cols)


def _doc_local_minhash_pandas(df: DataFrame, id_col: str, text_col: str,
                              n: int, num_hashes: int,
                              bands: int | None = None) -> DataFrame:
    """The memoized-Python arm of ``_doc_local_minhash`` (see its
    docstring for the workload trade-off).  Memo bounded so a
    pathological partition can't hold gigabytes of digest rows.

    Tokenization parity with the codegen arm is load-bearing: shingles
    come from ``functions/text.py_word_shingles`` over text lower-cased
    JVM-side in the pre-projection.  admit_stream persists codegen-built
    signatures that later pandas-arm runs compare against, so one
    differing token boundary silently loses near-dups."""
    import hashlib

    import pandas as pd

    rows = (num_hashes // bands) if bands else 0
    sig_cols = ([f"b{b}" for b in range(bands)] if bands
                else [f"h{i}" for i in range(num_hashes)])

    def run(batches):
        memo: dict = {}
        MEMO_CAP = 1 << 20
        md5 = hashlib.md5
        prefixes = [f"{i}:".encode() for i in range(num_hashes)]

        def digests(s: str) -> tuple:
            row = memo.get(s)
            if row is None:
                sb = s.encode()
                row = tuple(md5(p + sb).hexdigest() for p in prefixes)
                if len(memo) >= MEMO_CAP:
                    memo.clear()
                memo[s] = row
            return row

        for pdf in batches:
            out = {"__id": [], "ss": [], "n": [],
                   **{c: [] for c in sig_cols}}
            for did, text in zip(pdf["__id"], pdf["__txt"]):
                sh = sorted(set(py_word_shingles(text, n)))
                out["__id"].append(did)
                out["ss"].append(sh)
                out["n"].append(len(sh))
                if sh:
                    # element-wise min across the doc's shingle digest
                    # rows == the per-hash min of the scalar loop
                    rows_d = [digests(s) for s in sh]
                    hs = (list(rows_d[0]) if len(rows_d) == 1
                          else [min(v) for v in zip(*rows_d)])
                else:
                    hs = [None] * num_hashes
                if bands:
                    for b in range(bands):
                        seg = hs[b * rows:(b + 1) * rows]
                        out[f"b{b}"].append(
                            md5("".join(seg).encode()).hexdigest()
                            if sh else None)
                else:
                    for i in range(num_hashes):
                        out[f"h{i}"].append(hs[i])
            yield pd.DataFrame(out)

    id_type = dict(df.dtypes)[id_col]
    schema_sig = ", ".join(f"{c} string" for c in sig_cols)
    return df.select(F.col(id_col).alias("__id"),
                     F.lower(F.col(text_col)).alias("__txt")) \
        .mapInPandas(run, f"__id {id_type}, ss array<string>, n long, "
                          f"{schema_sig}") \
        .withColumnRenamed("__id", id_col)


def _band_rows(sig: DataFrame, id_col: str) -> DataFrame:
    """(id, band, bh): one row per LSH band of a band-hashed signature
    relation; a doc with no shingles (n = 0) has no bands."""
    stack = ", ".join(f"{b}, b{b}" for b in range(BANDS))
    return sig.filter(F.col("n") > 0) \
        .selectExpr(id_col, f"stack({BANDS}, {stack}) AS (band, bh)")


def minhash_lsh_pairs(df: DataFrame, id_col: str, text_col: str, n: int = 3,
                      threshold: float = 0.8) -> DataFrame:
    """MinHash+LSH candidate generation, exact-Jaccard verified.

    shingle -> minhash -> band -> bucket-join -> verify.  Returns
    (doc_a, doc_b, jaccard) for verified pairs.

    Signatures (``NUM_HASHES`` hashes folded into ``BANDS`` band hashes)
    AND shingle sets come from one doc-local pass (no inverted-index
    shuffle at all); candidates bucket-join on band hashes; verification
    intersects the per-doc sorted arrays.
    """
    from kstream_spark.util import FANOUT_MIN_BYTES, ensure_parallelism, owned
    doc = owned(_doc_local_minhash(
        ensure_parallelism(df, min_bytes=FANOUT_MIN_BYTES),
        id_col, text_col, n, NUM_HASHES, bands=BANDS).persist())
    cand = shared_key_pairs(_band_rows(doc, id_col), id_col,
                            ["band", "bh"]).select("doc_a", "doc_b").distinct()
    return _jaccard_on_pairs(cand, doc, id_col, threshold)


def dedup_survivors(pairs: DataFrame, df: DataFrame, id_col: str) -> DataFrame:
    """Greedy survivor selection from a near-dup pair list: drop any doc that
    pairs with a lower-id doc (single pass — at scale run connected
    components to fixpoint; one pass is the standard one-round approximation)."""
    losers = pairs.select(F.col("doc_b").alias(id_col)).distinct()
    return df.join(losers, id_col, "left_anti")


# -- SimHash ----------------------------------------------------------------
SIMHASH_BITS = 32
SIMHASH_CHUNKS = 4
_CHUNK_W = SIMHASH_BITS // SIMHASH_CHUNKS  # 8 bits per chunk


def simhash_signatures(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-doc SimHash as 4 chunk integers (8 bits each).

    Classic SimHash: bit i of the signature is the majority vote, over the
    document's distinct 3-word shingles, of bit i of the shingle's hash
    (shingles, not bare tokens — a small shared vocabulary would collapse
    token-level signatures).  The hash family is "high bit of the i-th md5
    hex nibble", so the DuckDB oracle reproduces signatures exactly
    (_minhash-style md5-hex discipline); chunks are INTEGERS, so candidate
    bucketing is an equi-join and hamming distance is bit_count(xor).
    Shingles are ``functions/text.py_word_shingles`` of the JVM-lowered
    text, the same as ``word_shingles``; a doc with no shingles (NULL
    text, fewer than 3 words) has no signature row.

    Execution: a signature depends only on its OWN document, so the whole
    computation is one shuffle-free mapInPandas pass — shingle, hash, and
    majority-vote doc-locally per Arrow batch.  The previous form (explode
    to a (doc, shingle) relation + a 33-buffer groupBy) paid a full shuffle
    of the inverted index for what is an embarrassingly parallel map; this
    is 2-4x faster at sf0.1 and strictly less shuffle at any scale.
    """
    import hashlib

    import numpy as np
    import pandas as pd

    from kstream_spark.util import FANOUT_MIN_BYTES, ensure_parallelism

    def run(batches):
        for pdf in batches:
            out = {"__id": [], **{f"c{c}": [] for c in range(SIMHASH_CHUNKS)}}
            for did, text in zip(pdf["__id"], pdf["__txt"]):
                sh = set(py_word_shingles(text, 3))
                if not sh:
                    continue
                sums = np.zeros(SIMHASH_BITS, dtype=np.int64)
                for s in sh:
                    d = np.frombuffer(
                        hashlib.md5(s.encode()).digest()[:SIMHASH_BITS // 2],
                        dtype=np.uint8)
                    # byte b holds nibbles (2i, 2i+1): high bits are b>>7
                    # and (b>>3)&1 — same family as substring(md5_hex,i,1)>='8'
                    sums[0::2] += (d >> 7) & 1
                    sums[1::2] += (d >> 3) & 1
                bits = (sums * 2 >= len(sh)).astype(np.int64)
                out["__id"].append(did)
                for c in range(SIMHASH_CHUNKS):
                    v = 0
                    for j in range(_CHUNK_W):
                        v = v * 2 + int(bits[c * _CHUNK_W + j])
                    out[f"c{c}"].append(v)
            yield pd.DataFrame(out)

    id_type = dict(df.dtypes)[id_col]
    chunk_schema = ", ".join(f"c{c} long" for c in range(SIMHASH_CHUNKS))
    return ensure_parallelism(df, min_bytes=FANOUT_MIN_BYTES) \
        .select(F.col(id_col).alias("__id"),
                F.lower(F.col(text_col)).alias("__txt")) \
        .mapInPandas(run, f"__id {id_type}, {chunk_schema}") \
        .withColumnRenamed("__id", id_col)


def simhash_pairs(df: DataFrame, id_col: str, text_col: str,
                  max_hamming: int = 1) -> DataFrame:
    """Near-dup pairs with SimHash hamming distance <= max_hamming.

    The 4 chunks are the bands of ``multimodal.banded_hamming_pairs``:
    candidates by chunk equality — with 4 chunks, hamming <= 3 guarantees
    at least one identical chunk (pigeonhole) — so recall is EXACT for
    max_hamming <= 3, unlike probabilistic LSH; verification computes the
    true distance.  The signature relation is persisted (the band join
    and both verify sides read it).  Returns (doc_a, doc_b, hamming).
    """
    from kstream_spark.operators.multimodal import banded_hamming_pairs
    from kstream_spark.util import owned
    sig = owned(simhash_signatures(df, id_col, text_col).select(
        F.col(id_col),
        F.array(*[f"c{c}" for c in range(SIMHASH_CHUNKS)]).alias("bands"))
        .persist())
    return banded_hamming_pairs(sig, id_col, SIMHASH_CHUNKS, max_hamming,
                                a_name="doc_a", b_name="doc_b")


def connected_components(pairs: DataFrame, max_iter: int = 20,
                         collect_threshold: int = 1_000_000) -> DataFrame:
    """Connected components over a near-dup pair list -> (doc_id, cluster_id),
    cluster_id = min doc id in the component.

    One-pass survivor selection (dedup_survivors) misses transitive chains
    (A~B, B~C keeps C if only (A,B),(B,C) paired); clustering to fixpoint is
    the correct semantics.

    Execution (union-find below ``collect_threshold`` edges, BSP
    min-label propagation above) lives in the generic
    operators/graph.connected_components — this is the dedup-schema
    facade over it.
    """
    from kstream_spark.operators.graph import connected_components as cc
    return cc(pairs, "doc_a", "doc_b", max_iter=max_iter,
              collect_threshold=collect_threshold) \
        .select(F.col("node").alias("doc_id"),
                F.col("component").alias("cluster_id"))


def dedup_survivors_cc(pairs: DataFrame, df: DataFrame, id_col: str,
                       max_iter: int = 20) -> DataFrame:
    """Fixpoint survivor selection: keep exactly the min-id doc of every
    near-dup component (plus all unpaired docs)."""
    comp = connected_components(pairs, max_iter)
    losers = comp.filter(F.col("doc_id") != F.col("cluster_id")) \
        .select(F.col("doc_id").alias(id_col))
    return df.join(losers, id_col, "left_anti")


def corpus_signatures(docs: DataFrame, id_col: str, text_col: str,
                      n: int = 3) -> DataFrame:
    """Persistable dedup state for a standing corpus: per-doc LSH band
    hashes (``b0..b{BANDS-1}`` — the per-hash MinHash values are folded
    into bands and dropped), the sorted shingle array ``ss`` (needed for
    the exact-Jaccard verify step), its size ``n``, and the normalized
    content hash ``__ch``.  Materialize this ONCE per admitted document
    (admit-time write) and feed it to ``incremental_dedup`` via
    ``corpus_state`` — later increments then join precomputed bands instead
    of re-minhashing the whole corpus every batch: per-batch TEXT work drops
    to O(|increment|).  Note the store itself is not tiny — ``ss`` makes it
    proportional to corpus shingle volume — but it is scanned (columnar,
    band columns only until the verify join), never re-tokenized."""
    sig = _doc_local_minhash(docs, id_col, text_col, n, NUM_HASHES,
                             bands=BANDS)
    ch = docs.select(F.col(id_col), content_hash(F.col(text_col)).alias("__ch"))
    return sig.join(ch, id_col)


def incremental_dedup(new_docs: DataFrame, corpus: DataFrame, id_col: str,
                      text_col: str, n: int = 3,
                      threshold: float = 0.8,
                      corpus_state: DataFrame | None = None,
                      return_signatures: bool = False,
                      checkpoint_fresh: bool = False,
                      sig_impl: str = "pandas") -> DataFrame:
    """Admit only NEW documents that duplicate nothing in the existing
    corpus and nothing earlier in their own batch — the production shape
    for growing corpora (dedup the daily increment, never re-scan the
    accumulated corpus pairwise).

    Two gates:
      1. exact: content-hash anti-join against the corpus hashes — the
         corpus side is a 1-column relation, shuffled (or broadcast) once;
      2. near-dup: MinHash band buckets of the increment join the CORPUS
         buckets (increment-vs-corpus only — never corpus-vs-corpus, so
         cost scales with |increment| x bucket density, not |corpus|^2),
         then exact-Jaccard verification, plus the increment's own
         internal pairs.

    Returns the admitted subset of ``new_docs``.

    ``corpus_state``: optional PRE-MATERIALIZED ``corpus_signatures(...)``
    relation.  When given, the corpus text is never touched — gate 1 uses
    the stored ``__ch`` hashes and gate 2 the stored signature/shingle
    columns, so per-batch corpus-side work drops from a full re-minhash to
    one scan of the signature store (the admit-time-write pattern of
    ``streaming/corpus.admit_stream``).

    ``sig_impl``: forwarded to ``_doc_local_minhash`` for both sides —
    "pandas" (default; repetition-amortized memo, the corpus-query
    regime) or "codegen" (unique-heavy short-doc streams; admit_stream
    passes it — see the minhash docstring's A/B).

    ``checkpoint_fresh``: eagerly ``localCheckpoint`` the post-exact-gate
    survivors.  Everything downstream (minhash, both verify joins, the
    admitted writes) references that relation repeatedly, and a re-crawl
    -heavy stream sheds most of the batch at the exact gate — so the
    per-batch caller pins the SURVIVORS (|batch|/8 on the bench mix)
    instead of the raw batch it used to checkpoint (r12: 9.2s -> ~2s of
    the 2M-record admission trigger).

    The checkpoint and both persisted signature relations are ``owned``:
    a per-batch caller (``admit_stream``) runs each batch in a
    ``cache_scope`` so they do not pile up for the life of the stream.
    """
    from pyspark.sql import Window as W
    from kstream_spark.util import owned

    # gate 1: exact content hash vs corpus and batch-internal
    h = content_hash(F.col(text_col))
    seen = (corpus_state.select("__ch") if corpus_state is not None
            else corpus.select(h.alias("__ch"))).distinct()
    fresh = new_docs.withColumn("__ch", h) \
        .join(seen, "__ch", "left_anti")
    fresh = fresh.withColumn(
        "__first", F.min(id_col).over(W.partitionBy("__ch"))) \
        .filter(F.col(id_col) == F.col("__first")) \
        .drop("__ch", "__first")
    if checkpoint_fresh:
        fresh = owned(fresh.localCheckpoint(eager=True))

    # gate 2: near-dup vs corpus (increment bands join corpus bands only).
    # ONE signature pass per relation — the batch-internal phase below
    # reuses the increment's signatures instead of re-minhashing.
    # persist both signature relations: each is referenced twice (band
    # bucketing + exact verify) and Spark does not reuse the mapInPandas
    # subtree; MEMORY_AND_DISK spills gracefully at corpus scale
    inc = owned(_doc_local_minhash(fresh, id_col, text_col, n, NUM_HASHES,
                                   bands=BANDS, impl=sig_impl).persist())
    cor = owned((corpus_state.drop("__ch") if corpus_state is not None
                 else _doc_local_minhash(corpus, id_col, text_col, n,
                                         NUM_HASHES, bands=BANDS,
                                         impl=sig_impl)).persist())

    cand = shared_key_pairs(_band_rows(inc, id_col), id_col, ["band", "bh"],
                            a="new_id", b="old_id",
                            other=_band_rows(cor, id_col)) \
        .select("new_id", "old_id").distinct()
    dup_new = _jaccard_on_pairs(cand, inc, id_col, threshold, a="new_id",
                                b="old_id", other=cor) \
        .select(F.col("new_id").alias(id_col)).distinct()
    admitted = fresh.join(dup_new, id_col, "left_anti")

    # batch-internal near-dups (lower id wins): same band-bucket + verify
    # over the ALREADY-COMPUTED increment signatures, filtered to admitted
    adm_sig = inc.join(admitted.select(id_col), id_col, "left_semi")
    icand = shared_key_pairs(_band_rows(adm_sig, id_col), id_col,
                             ["band", "bh"]).select("doc_a", "doc_b").distinct()
    losers = _jaccard_on_pairs(icand, adm_sig, id_col, threshold) \
        .select(F.col("doc_b").alias(id_col)).distinct()
    result = admitted.join(losers, id_col, "left_anti")
    if not return_signatures:
        return result
    # the admitted docs' corpus_signatures(...) relation, derived from the
    # ALREADY-COMPUTED (and persisted) increment signatures — value-
    # identical to corpus_signatures(result, ...) but without a second
    # Python minhash pass over every admitted doc; admit_stream writes
    # this to the signature store each micro-batch, where the re-minhash
    # was the largest per-batch cost (r11 corpus_admit throughput task)
    ch = result.select(F.col(id_col),
                       content_hash(F.col(text_col)).alias("__ch"))
    sigs = inc.join(result.select(id_col), id_col, "left_semi") \
        .join(ch, id_col)
    return result, sigs


def cross_source_matrix(df: DataFrame, id_col: str, text_col: str,
                        source_col: str, n: int = 3,
                        threshold: float = 0.8) -> DataFrame:
    """Near-duplicate rate matrix BETWEEN sources: for every (source_a,
    source_b) pair (unordered, self-pairs included), how many near-dup
    document pairs cross them and how strong the overlap is — the corpus
    audit that tells a pipeline which feeds re-crawl each other (and how
    much within-feed redundancy each one carries) before any survivor
    policy runs.

    Returns (src_a, src_b, n_pairs, sum_j_micro): sum_j_micro is the exact
    integer sum of round-6 jaccards * 1e6 (order-insensitive; divide by
    n_pairs * 1e6 for the mean) — the unigram_logprob micro-unit trick, so
    the matrix is bit-stable without emitting a tie-prone rounded mean.

    Scale shape: candidate pairs come from the inverted-index shingle join
    (never all-pairs); attaching sources is a join keyed by doc id BOUNDED
    BY THE PAIR COUNT, not the corpus; the final matrix groupBy has at
    most |sources|^2 groups.  Composes with minhash_lsh_pairs for the
    banded candidate generator at 100 TB (same pair-relation contract).
    """
    pairs = ngram_jaccard_pairs(df, id_col, text_col, n=n,
                                threshold=threshold)
    src = df.select(F.col(id_col), F.col(source_col).alias("_src"))
    lab = (pairs
           .join(src.withColumnRenamed("_src", "_sa"),
                 pairs.doc_a == F.col(id_col)).drop(id_col)
           .join(src.withColumnRenamed("_src", "_sb"),
                 pairs.doc_b == F.col(id_col)).drop(id_col))
    return (lab.select(
        F.least("_sa", "_sb").alias("src_a"),
        F.greatest("_sa", "_sb").alias("src_b"),
        F.round(F.col("jaccard") * 1e6, 0).cast("long").alias("_jm"))
        .groupBy("src_a", "src_b")
        .agg(F.count("*").cast("long").alias("n_pairs"),
             F.sum("_jm").alias("sum_j_micro")))


def cdc_chunks(df: DataFrame, id_col: str, text_col: str,
               window: int = 16, mask_bits: int = 6) -> DataFrame:
    """Content-defined chunking (the rolling-hash boundary scheme of
    LBFS/FastCDC): a chunk boundary falls wherever the WINDOW-byte
    rolling hash of the payload is 0 mod 2^mask_bits (expected chunk
    ~2^mask_bits bytes), so chunk boundaries are a function of CONTENT,
    not offset — inserting a byte shifts at most one chunk, which is
    what makes chunk-hash dedup shift-resistant where fixed-size
    blocking is not.  The storage-layer complement of the token-level
    span/winnow dedup: it works on any byte payload (multimodal blobs
    included), not just tokenizable text.

    Returns one row per (id, chunk_idx) with (chunk_start, chunk_len,
    chunk_md5).  All arithmetic is exact integer (char codes * fixed
    power table mod 2^31-1: products < 2^39, window sums < 2^43 —
    int64-safe), so every engine derives identical boundaries.
    [[oracle-parity]]

    Plan shape: pure per-row projection — zero shuffle; downstream
    chunk-hash dedup is one count aggregation keyed by the hash.  The
    rolling hash is a numpy sliding-window dot in one mapInPandas pass:
    higher-order-function lambdas are interpreted per element in Spark,
    and the expression form's n*window folds measured ~2x slower per
    core at sf1 (the one place in this repo where the Arrow batch beats
    the built-in expression).
    """
    import hashlib

    import numpy as np
    import pandas as pd

    B, M = 257, (1 << 31) - 1
    pows = np.array([pow(B, j, M) for j in range(window)], dtype=np.int64)
    mask = 1 << mask_bits
    w = window

    def run(batches):
        for pdf in batches:
            ids, idxs, starts, lens, hashes = [], [], [], [], []
            for rid, t in zip(pdf["_id"], pdf["_t"]):
                if t is None:  # null text: no chunks
                    continue
                n = len(t)
                bounds = []
                if n >= w:
                    # ord() == the SQL oracle's ord() per UTF-8 char
                    # (frombuffer over encoded bytes would diverge on
                    # any non-ASCII codepoint)
                    c = np.fromiter(map(ord, t), dtype=np.int64, count=n)
                    # h(i) = sum_j (c[i-1-j] * pows[j] % M) for i = w..n
                    terms = (np.lib.stride_tricks.sliding_window_view(
                        c, w)[:, ::-1] * pows) % M
                    h = terms.sum(axis=1) % M % mask
                    bounds = (np.nonzero(h == 0)[0] + w).tolist()
                edges = [0] + bounds + [n]
                k = 0
                for s0, e0 in zip(edges, edges[1:]):
                    if e0 - s0 <= 0:
                        continue
                    ids.append(rid)
                    idxs.append(k)
                    starts.append(s0)
                    lens.append(e0 - s0)
                    hashes.append(hashlib.md5(
                        t[s0:e0].encode("utf-8")).hexdigest())
                    k += 1
            yield pd.DataFrame({"_id": ids, "chunk_idx": idxs,
                                "chunk_start": starts, "chunk_len": lens,
                                "chunk_md5": hashes})

    id_type = dict(df.dtypes)[id_col]
    return (df.select(F.col(id_col).alias("_id"),
                      F.col(text_col).alias("_t"))
            .mapInPandas(run, f"_id {id_type}, chunk_idx long, "
                              f"chunk_start long, chunk_len long, "
                              f"chunk_md5 string")
            .withColumnRenamed("_id", id_col))


def prefix_jaccard_pairs(df: DataFrame, id_col: str, text_col: str,
                         n: int = 3, threshold: float = 0.8) -> DataFrame:
    """EXACT Jaccard pairs via PREFIX FILTERING (AllPairs/PPJoin family —
    Bayardo et al. 2007, Xiao et al. 2008; Vernica et al. 2010 gives the
    MapReduce form): instead of self-joining the FULL inverted index
    (ngram_jaccard_pairs), index only each document's PREFIX — its
    ``|x| - ceil(t*|x|) + 1`` globally RAREST shingles (document
    frequency ascending, shingle tie-break).  Any pair with
    ``J(A,B) >= t`` has ``|A∩B| >= ceil(t*|A|)``; a pair missing A's
    prefix entirely fits its intersection inside A's suffix of size
    ``ceil(t*|A|) - 1`` — contradiction — so every qualifying pair
    shares a prefix element and candidate generation is LOSSLESS (the
    driver oracle for dedup_prefix_jaccard is literally the brute-force
    full-index SQL: the hash match IS the no-loss proof).

    Scale shape: the candidate self-join moves only the prefix relation
    (~(1-t) of the index), and because prefixes are the RAREST shingles
    the join's per-key fan-out is inherently tiny — the hot-key hazard
    the full index needs ``max_shingle_df`` for never materializes.
    Verification is ``_jaccard_on_pairs`` (id-keyed array-intersect,
    never re-exploded).  The ceil is exact integer arithmetic
    (``(t_micro*|x| + 999999) div 1e6``) — no float boundary can shift a
    prefix length between engines.

    WHEN TO USE WHICH (A/B-measured, min-of-3, quiet machine): on the
    driver fixture — whose per-shingle document frequency tops out in
    the single digits — the plain full-index path is FASTER (1.6s vs
    2.9s at sf0.1; at sf1 the r9 single-aggregation shape closed the
    gap to ~1.4x of the brute DuckDB replay): with no hot shingles the
    self-join never explodes, and the prefix path pays its extra
    stages (df join, candidate distinct, array verify) for nothing.  Prefix filtering is the tool for BOILERPLATE-SKEWED
    corpora, where shared headers/licenses give shingles df in the
    thousands and the full self-join goes quadratic in the hot df:
    there the rare-first prefix skips the boilerplate entirely without
    changing semantics, while ``max_shingle_df`` (the full-index dial
    for the same problem) redefines Jaccard over the rare-shingle
    universe (tests/test_corpus.test_prefix_filter_skips_boilerplate
    demonstrates the candidate-space gap).
    """
    from kstream_spark.util import owned
    sh = shingle_sets(df, id_col, text_col, n)
    t_micro = int(round(threshold * 1e6))
    # ONE shuffle builds the inverted index WITH df attached — the r11
    # shape aggregated df (shuffle 1), re-shuffled the token stream into
    # the join (shuffle 2), then grouped by id (shuffle 3); collecting
    # the posting list alongside the count and exploding it back is
    # narrow, so the df annotation costs no second token-stream exchange
    # (sf1 A/B: 11.5s -> 6.9s for the whole query).  The posting-list
    # buffer is df-bounded per shingle — single digits on TPC-H-ish
    # text, thousands on boilerplate corpora (kilobytes either way);
    # a corpus with MILLION-df shingles should pre-drop them via
    # shingle_sets(max_shingle_df=...) before calling this.
    inv = sh.groupBy("s").agg(F.count("*").alias("_df"),
                              F.collect_list(id_col).alias("_ids"))
    tok = inv.select("s", "_df", F.explode("_ids").alias(id_col))
    # ONE id-keyed aggregation yields BOTH the rare-first prefix (the
    # sorted (df, s) struct array's first plen elements) and the verify
    # arrays — the r8 shape spent a per-doc window pass on the prefix
    # and then re-shuffled the full index a second time inside
    # _jaccard_on_pairs for the arrays (sf1 A/B: 11.8s -> this shape's
    # single groupBy).  sort_array on the struct array orders by
    # (_df asc, s asc), exactly the prefix order the window used.  The
    # verify arrays stay in that order — array_intersect hashes its
    # inputs, so the r11 lexical re-sort bought nothing.
    sets = (tok.groupBy(F.col(id_col))
            .agg(F.sort_array(F.collect_list(F.struct("_df", "s")))
                 .alias("_ds"),
                 F.count("*").alias("n"))
            .withColumn("_plen",
                        (F.col("n")
                         - F.expr(f"({t_micro}L * n + 999999) div 1000000")
                         + 1).cast("int"))
            .select(F.col(id_col),
                    F.expr("transform(_ds, x -> x.s)").alias("ss"),
                    F.col("n"),
                    F.expr("transform(slice(_ds, 1, _plen), x -> x.s)")
                    .alias("prefix"))
            # three consumers (prefix index + both verify sides): cache
            # the per-doc relation so the df-join aggregation runs once
            .persist())
    owned(sets)
    # the prefix index carries n so the PPJoin LENGTH filter prunes
    # candidates before the distinct: J >= t forces t*max(|A|,|B|) <=
    # min(|A|,|B|) (the intersection fits in the shorter set), checked
    # in the same exact integer micro arithmetic as the prefix length
    prefix = sets.select(F.col(id_col), F.col("n"),
                         F.explode("prefix").alias("s"))
    cand = (shared_key_pairs(prefix, id_col, ["s"], carry=("n",))
            .filter(F.least("na", "nb") * F.lit(1000000).cast("long")
                    >= F.lit(t_micro) * F.greatest("na", "nb"))
            .select("doc_a", "doc_b").distinct())
    return _jaccard_on_pairs(cand, sets, id_col, threshold)
