"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

The engine treats media as ``binary`` payload columns with a metadata struct
(modality, byte size, content hash).  Decode / feature-extraction runs as
Arrow-batched pandas iterators over ``mapInPandas`` — the payload bytes never
pass through per-row Python.  The actual codec step is STUBBED (no
image/audio libs in this container): ``decode_stub`` raises
NotImplementedError unless ``fake=True``, in which case it produces a
deterministic fake feature vector from the payload hash so the Spark-side
plumbing (schema, batching, partitioning) is fully exercised and tested.

Scale notes: payloads dominate row size — keep them in their own column so
column pruning drops them when a query touches only metadata; partition by
content-hash prefix for even task sizing; never collect payloads.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kstream_spark.operators.dedup import shared_key_pairs


def attach_binary(df: DataFrame, source_col: str, modality: str = "image",
                  payload_col: str = "payload") -> DataFrame:
    """Wrap a column's bytes as a media payload + metadata struct."""
    payload = F.encode(F.col(source_col), "UTF-8") if \
        dict(df.dtypes)[source_col] == "string" else F.col(source_col)
    return df.withColumn(payload_col, payload).withColumn(
        "media_meta",
        F.struct(
            F.lit(modality).alias("modality"),
            F.octet_length(F.col(payload_col)).alias("n_bytes"),
            F.sha2(F.col(payload_col), 256).alias("sha256"),
        ),
    )


FEATURE_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("n_bytes", T.IntegerType()),
    T.StructField("feature", T.ArrayType(T.FloatType())),
])


def decode_stub(df: DataFrame, id_col: str = "doc_id",
                payload_col: str = "payload", dim: int = 8,
                fake: bool = False) -> DataFrame:
    """Decode + feature-extract media payloads (Arrow-batched).

    Real codecs are unavailable in this container; ``fake=True`` derives a
    deterministic pseudo-feature from sha256(payload) so tests exercise the
    exact production plumbing (batch iterator, schema, Arrow transfer).
    """
    if not fake:
        raise NotImplementedError(
            "media codecs (PIL/av/torchaudio) not installed in this "
            "environment; pass fake=True for the deterministic test path")

    def run(batches):
        for pdf in batches:
            feats, sizes = [], []
            for raw in pdf[payload_col]:
                b = bytes(raw)
                h = hashlib.sha256(b).digest()
                feats.append([h[i] / 255.0 for i in range(dim)])
                sizes.append(len(b))
            out = pdf[[id_col]].copy()
            out["n_bytes"] = sizes
            out["feature"] = feats
            yield out

    schema = T.StructType([
        T.StructField(id_col, T.LongType()),
        T.StructField("n_bytes", T.IntegerType()),
        T.StructField("feature", T.ArrayType(T.FloatType())),
    ])
    return df.select(id_col, payload_col).mapInPandas(run, schema)


def sample_frames(df: DataFrame, id_col: str = "doc_id",
                  payload_col: str = "payload", every_n_bytes: int = 32,
                  max_frames: int = 8, fake: bool = False) -> DataFrame:
    """Frame sampling for video payloads: emit every k-th frame as its own
    row (one input row -> N frame rows).

    Plumbing is real — Arrow-batched iterator, explode-shaped output schema,
    frame index + byte-offset metadata; the codec is stubbed (``fake=True``
    treats every ``every_n_bytes`` slice as a "frame" and hashes it).  At
    scale the fan-out happens executor-side with no shuffle; downstream
    per-frame feature extraction partitions on (doc, frame).
    """
    if not fake:
        raise NotImplementedError(
            "video codecs (pyav/ffmpeg) not installed in this environment; "
            "pass fake=True for the deterministic test path")

    def run(batches):
        for pdf in batches:
            out = {"doc": [], "frame_idx": [], "byte_offset": [], "frame_sha": []}
            for _, row in pdf.iterrows():
                b = bytes(row[payload_col])
                for i in range(min(max_frames, max(1, len(b) // every_n_bytes))):
                    off = i * every_n_bytes
                    out["doc"].append(row[id_col])
                    out["frame_idx"].append(i)
                    out["byte_offset"].append(off)
                    out["frame_sha"].append(
                        hashlib.sha256(b[off:off + every_n_bytes]).hexdigest())
            import pandas as pd
            yield pd.DataFrame(out).rename(columns={"doc": id_col})

    schema = T.StructType([
        T.StructField(id_col, T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("byte_offset", T.IntegerType()),
        T.StructField("frame_sha", T.StringType()),
    ])
    return df.select(id_col, payload_col).mapInPandas(run, schema)


def resize_meta(df: DataFrame, target_w: int, target_h: int,
                meta_col: str = "media_meta") -> DataFrame:
    """Record a resize intent in metadata (JVM-side — the actual pixel work
    happens in the decode stage's pandas iterator when codecs exist).
    Demonstrates typed-metadata evolution without touching payload bytes —
    column pruning still drops the payload for metadata-only readers."""
    return df.withColumn(
        meta_col,
        F.struct(
            F.col(f"{meta_col}.modality").alias("modality"),
            F.col(f"{meta_col}.n_bytes").alias("n_bytes"),
            F.col(f"{meta_col}.sha256").alias("sha256"),
            F.lit(target_w).alias("target_w"),
            F.lit(target_h).alias("target_h"),
        ))


def attach_audio(df: DataFrame, source_col: str, sample_rate: int = 16000,
                 payload_col: str = "payload") -> DataFrame:
    """Audio-modality variant of attach_binary: payload + typed audio
    metadata (sample rate, estimated duration from byte length — the stub
    assumes 16-bit mono PCM; a real decoder would read the container
    header in the mapInPandas stage)."""
    payload = F.encode(F.col(source_col), "UTF-8") if \
        dict(df.dtypes)[source_col] == "string" else F.col(source_col)
    n_bytes = F.octet_length(payload)
    return df.withColumn(payload_col, payload).withColumn(
        "media_meta",
        F.struct(
            F.lit("audio").alias("modality"),
            n_bytes.alias("n_bytes"),
            F.sha2(payload, 256).alias("sha256"),
            F.lit(sample_rate).alias("sample_rate"),
            F.round(n_bytes / (2 * sample_rate), 6).alias("est_duration_s"),
        ))


def _fake_decode_segments(df: DataFrame, id_col: str, text_col: str,
                          n_seg: int, out_col: str,
                          mean: bool) -> DataFrame:
    """Shared body of the two decode stubs: ``n_seg`` integer segment
    sums (or means) of a payload's char codes.

    One numpy cumsum per row inside mapInPandas — exactly the shape a
    REAL decoder takes (PIL/librosa are Pandas-UDF territory), and it
    sidesteps the expression form's plan-cost wall: 72 interpreted
    ``aggregate`` folds per row re-entered by the hash layer's reads
    made mm_phash/mm_afp ~6s at EVERY SF — flat across data sizes, i.e.
    driver-side expression-tree analysis, not execution (r12 profile).
    Integer-exact: bounds ``(k*n) div n_seg``, sums over full
    codepoints (Python ``ord``, == the SQL oracle's char codes even
    beyond the BMP), NULL text folds every segment to NULL, floor
    division by ``greatest(len, 1)`` for the mean."""
    import numpy as np
    import pandas as pd

    def run(batches):
        bounds_k = np.arange(n_seg + 1, dtype=np.int64)
        for pdf in batches:
            ids, arrs = [], []
            for did, t in zip(pdf[id_col], pdf[text_col]):
                if t is None:
                    # n_seg NULLs, not zeros (callers filter length >= n)
                    ids.append(did)
                    arrs.append([None] * n_seg)
                    continue
                n = len(t)
                if n:
                    codes = np.fromiter(map(ord, t), dtype=np.int64,
                                        count=n)
                    cs = np.concatenate(([0], np.cumsum(codes)))
                else:
                    cs = np.zeros(1, dtype=np.int64)
                bounds = (bounds_k * n) // n_seg
                sums = cs[bounds[1:]] - cs[bounds[:-1]]
                if mean:
                    sums = sums // np.maximum(bounds[1:] - bounds[:-1], 1)
                ids.append(did)
                arrs.append([int(v) for v in sums])
            yield pd.DataFrame({"__id": ids, out_col: arrs})

    id_type = dict(df.dtypes)[id_col]
    return df.select(F.col(id_col), F.col(text_col)) \
        .mapInPandas(run, f"__id {id_type}, {out_col} array<int>") \
        .withColumnRenamed("__id", id_col)


def fake_decode_image(df: DataFrame, id_col: str, text_col: str,
                      n_px: int = 72) -> DataFrame:
    """STUB image decode: derive a deterministic grayscale "thumbnail"
    (``n_px`` integer pixels) from a text payload — segment MEANS of the
    char codes (sum // len, integer-exact), standing in for the
    resize-to-thumbnail step a real decoder (PIL etc., absent from this
    container) would run.  Region averaging mirrors what real
    thumbnailing does and is what ``dhash_bands`` consumes.  Rows
    shorter than one char per segment are the caller's business (filter
    ``length >= n_px`` for stable thumbnails).  See
    ``_fake_decode_segments``."""
    return _fake_decode_segments(df, id_col, text_col, n_px,
                                 "pixels", mean=True)


def dhash_bands(df: DataFrame, id_col: str, pixel_col: str,
                w: int = 8, h: int = 8, bands: int = 4) -> DataFrame:
    """Difference-hash (dHash) an integer grayscale pixel array into
    ``bands`` integer band values — the DCT-free perceptual hash
    (w*h gradient bits: grid(r,c) < grid(r,c+1) over a nearest-neighbor
    resample to a (w+1) x h grid), split into Hamming-LSH bands of
    (w*h)/bands bits each.  All integer arithmetic, so the hash is
    bit-exact across engines (a DCT pHash would drag float rounding into
    the oracle).  Returns (id, bands array<int>); pure projection."""
    nbits = w * h
    assert nbits % bands == 0
    bbits = nbits // bands
    grid_n = (w + 1) * h
    src = df.select(F.col(id_col), F.col(pixel_col).alias("_px"),
                    F.size(F.col(pixel_col)).alias("_l"))
    # nearest-neighbor resample: grid g reads pixel (g * L) // grid_n.
    # The whole band array is ONE F.expr string (r13): the previous
    # per-bit Column algebra (when/lit/+ per gradient bit) built the
    # identical expression tree through ~1.5k py4j round trips — pure
    # driver-side construction cost paid per run (the afp_bands wall,
    # measured 1.8 s warm at sf0.1); a generated SQL string parses
    # JVM-side in milliseconds and the arithmetic is integer-exact, so
    # the hash is bit-identical by construction.
    g = [f"element_at(_px, cast(({i} * _l) div {grid_n} as int) + 1)"
         for i in range(grid_n)]
    band_sqls = []
    for b in range(bands):
        terms = []
        for p in range(bbits):
            i = b * bbits + p
            r, c = divmod(i, w)
            terms.append(f"(case when {g[r * (w + 1) + c]} < "
                         f"{g[r * (w + 1) + c + 1]} then {1 << p} "
                         f"else 0 end)")
        band_sqls.append(f"cast(({' + '.join(terms)}) as int)")
    return src.select(F.col(id_col),
                      F.expr("array(" + ",".join(band_sqls) + ")")
                      .alias("bands"))


def phash_pairs(df: DataFrame, id_col: str, pixel_col: str,
                max_hamming: int = 3, w: int = 8, h: int = 8,
                bands: int = 4) -> DataFrame:
    """Perceptual near-duplicate image pairs: dHash each image, generate
    candidates by HAMMING-LSH BANDING (pairs sharing at least one exact
    band — an equi-join on (band_idx, band_val), NEVER all-pairs), then
    verify true Hamming distance over the full hash and keep pairs
    within ``max_hamming``.

    Completeness: with ``max_hamming <= bands - 1`` (the default 3 with
    4 bands) the result is EXACT — pigeonhole puts at least one clean
    band on any pair within the threshold, so banding cannot miss one;
    larger thresholds trade recall for the same bounded candidate cost
    (standard LSH semantics).  Scale shape: identical to the MinHash
    band join — bucketed candidates, O(bucket^2) pairs per band value,
    verification on candidates only.  Returns (img_a, img_b, hamming).

    The signature relation is consumed by a self-join plus two verify
    joins; if ``pixel_col`` is produced by a heavy expression chain
    (e.g. an inline decode), PERSIST or materialize that relation first
    — at scale decoded thumbnails are a stored table anyway (decode
    once, hash many), and inline the re-entered decode trees blow up
    plan optimization."""
    hb = dhash_bands(df, id_col, pixel_col, w, h, bands)
    return banded_hamming_pairs(hb, id_col, bands, max_hamming,
                                a_name="img_a", b_name="img_b")


def banded_hamming_pairs(hb: DataFrame, id_col: str, n_bands: int,
                         max_hamming: int, a_name: str = "id_a",
                         b_name: str = "id_b",
                         max_band_df: int | None = None) -> DataFrame:
    """Hamming-LSH pair generation, the one Hamming verify of the dedup
    family (image dHash, audio Haitsma-Kalker, text SimHash):
    candidates by exact-band equi-join (never all-pairs), verification
    by true Hamming over the full fingerprint, complete for
    max_hamming <= n_bands - 1 by pigeonhole.  ``hb``: (id, bands
    array of integers).

    ``max_band_df`` is the hot-bucket cap (the max_fp_df dial of
    dedup.winnow_pairs, applied to band buckets): a band value shared by
    more than this many fingerprints — boilerplate envelopes hashing to
    the same pattern — is dropped from CANDIDATE GENERATION, bounding
    the pair space to occupancy^2 <= cap^2 per bucket.  A pair whose
    every clean band is hot can then be missed (capped = the documented
    approximate trade, exactly replayable by an oracle that applies the
    same HAVING); None keeps pigeonhole-complete semantics."""
    sig = hb.select(F.col(id_col), F.posexplode("bands")
                    .alias("band_idx", "val"))
    if max_band_df is not None:
        keep = (sig.groupBy("band_idx", "val")
                .agg(F.count("*").alias("_df"))
                .filter(F.col("_df") <= max_band_df)
                .select("band_idx", "val"))
        sig = sig.join(keep, ["band_idx", "val"])
    cand = shared_key_pairs(sig, id_col, ["band_idx", "val"], a=a_name,
                            b=b_name).select(a_name, b_name).distinct()
    xa = hb.select(F.col(id_col).alias(a_name), F.col("bands").alias("_ba"))
    xb = hb.select(F.col(id_col).alias(b_name), F.col("bands").alias("_bb"))
    ham = None
    for b in range(n_bands):
        term = F.bit_count(F.element_at("_ba", b + 1)
                           .bitwiseXOR(F.element_at("_bb", b + 1)))
        ham = term if ham is None else ham + term
    return (cand.join(xa, a_name).join(xb, b_name)
            .select(a_name, b_name, ham.cast("long").alias("hamming"))
            .filter(F.col("hamming") <= max_hamming))


def fake_decode_audio(df: DataFrame, id_col: str, text_col: str,
                      n_seg: int = 80) -> DataFrame:
    """STUB audio decode: deterministic integer "band energies" from a
    text payload — ``n_seg`` segment SUMS of the char codes, standing in
    for the framed filterbank energies a real decoder (absent from this
    container) would produce.  Integer-exact.  Callers should filter
    ``length >= n_seg``.  See ``_fake_decode_segments``."""
    return _fake_decode_segments(df, id_col, text_col, n_seg,
                                 "energies", mean=False)


def afp_bands(df: DataFrame, id_col: str, energy_col: str,
              frames: int = 16, fbands: int = 4,
              lsh_bands: int = 4) -> DataFrame:
    """Haitsma-Kalker audio fingerprint (the Philips robust hash, ISMIR
    2002) over a framed band-energy array of size frames * (fbands+1):
    bit(f, b) = sign of the SECOND difference of energies across time
    and band, (E(f,b)-E(f,b+1)) - (E(f-1,b)-E(f-1,b+1)) > 0 — the
    construction's robustness-to-re-encode property, and integer-exact
    here, so the oracle replays it bit-for-bit.  (frames-1)*fbands bits,
    packed into ``lsh_bands`` integer LSH bands for the Hamming band
    join.  Pure projection."""
    nbits = (frames - 1) * fbands
    assert nbits % lsh_bands == 0
    bbits = nbits // lsh_bands
    # ONE F.expr string for the whole fingerprint (r13) — the per-bit
    # Column algebra built this same integer-exact tree through
    # thousands of py4j round trips (1.8 s warm per mm_afp_dedup run at
    # sf0.1, pure driver overhead); see dhash_bands.
    e = [f"element_at(`{energy_col}`, {i + 1})"
         for i in range(frames * (fbands + 1))]
    band_sqls = []
    for g in range(lsh_bands):
        terms = []
        for p in range(bbits):
            i = g * bbits + p
            f, b = i // fbands + 1, i % fbands
            d = (f"(({e[f * (fbands + 1) + b]} - "
                 f"{e[f * (fbands + 1) + b + 1]}) - "
                 f"({e[(f - 1) * (fbands + 1) + b]} - "
                 f"{e[(f - 1) * (fbands + 1) + b + 1]}))")
            terms.append(f"(case when {d} > 0 then {1 << p} else 0 end)")
        band_sqls.append(f"cast(({' + '.join(terms)}) as int)")
    return df.select(F.col(id_col),
                     F.expr("array(" + ",".join(band_sqls) + ")")
                     .alias("bands"))


def afp_pairs(df: DataFrame, id_col: str, energy_col: str,
              max_hamming: int = 3, frames: int = 16, fbands: int = 4,
              lsh_bands: int = 4,
              max_band_df: int | None = None) -> DataFrame:
    """Audio near-duplicate pairs: Haitsma-Kalker fingerprint + the
    shared Hamming-LSH band join (banded_hamming_pairs) — the audio arm
    of the dedup family, completing text / image / audio.  Returns
    (clip_a, clip_b, hamming); complete for max_hamming <= lsh_bands-1
    by pigeonhole, candidates never all-pairs."""
    hb = afp_bands(df, id_col, energy_col, frames, fbands, lsh_bands)
    return banded_hamming_pairs(hb, id_col, lsh_bands, max_hamming,
                                a_name="clip_a", b_name="clip_b",
                                max_band_df=max_band_df)


def frame_overlap_pairs(frames: DataFrame, id_col: str, hash_col: str,
                        min_shared: int = 3) -> DataFrame:
    """Video near-duplicate pairs by SAMPLED-FRAME overlap: clips sharing
    at least ``min_shared`` exact frame fingerprints (the trim/time-shift
    robustness model — a cut or re-muxed copy keeps most frame hashes
    verbatim, so matching the frame SET catches what a whole-file hash
    misses).  Candidates come from the equi-join on the frame hash —
    bucketed by fingerprint, never all-pairs (identical scale shape to
    the MinHash band join; a corpus-hot frame like a black slate fans
    out as bucket^2 — pre-filter such frames with a document-frequency
    cap the way dedup.winnow_pairs does if your corpus has them).
    Input: one row per (clip, frame) with a fingerprint column (e.g.
    sample_frames' frame_sha).  Returns (clip_a, clip_b, n_shared)."""
    f = frames.select(F.col(id_col), F.col(hash_col).alias("_h")).distinct()
    return (shared_key_pairs(f, id_col, ["_h"], a="clip_a", b="clip_b")
            .groupBy("clip_a", "clip_b")
            .agg(F.count("*").cast("long").alias("n_shared"))
            .filter(F.col("n_shared") >= min_shared))
