"""Deduplication operators for large text corpora.

Five families, each a standard LLM-pipeline technique, each expressed with
built-in column functions so the hot path is JVM-side and shuffle-minimal:

- exact:    md5 grouping — one shuffle on the hash, map-side combine.
- MinHash:  per-row signature (NO explode — ``array_min`` over a ``transform``
            keeps shingle→hash→min entirely inside one projection), then
            LSH banding: explode only b band keys per doc, shuffle on band
            key, equi-join for candidates, exact Jaccard verify.  At 100 TB
            the only shuffle is the band-key join; hot bands (boilerplate
            docs) should be capped/salted — see ``max_band_size``.
- SimHash:  64-bit signature via per-bit majority vote of token hashes; the
            candidate join uses the pigeonhole decomposition into 4 16-bit
            blocks (hamming ≤ 3 ⇒ at least one block equal), so candidate
            generation is 4 equi-joins instead of an O(N²) cross join.  At
            corpus scale the 16-bit blocks keep expected hash-collision
            candidates ~N²/2¹⁶ per block — 256× fewer than 8-bit blocks.
- n-gram Jaccard: exact verification primitive shared by the above.
- embedding cosine: near-duplicate pairs above a cosine threshold; the
            brute-force form lives in similarity.py — here we expose the
            thresholded pair set.

Hashes are engine-portable (operators/hashing.py) so the DuckDB oracle can
replay every pipeline bit-for-bit.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .cache import persist
from .hashing import MERSENNE_P, h32, minhash_params
from .text import tokens, word_ngrams, word_ngrams_of


def _staged_shingles(
    df: DataFrame, text_col: str, id_col: str, shingle_n: int
) -> DataFrame:
    """(_id, shingles) with the tokenizer staged as its own projection, so
    the n-gram lambda references a materialized array instead of re-running
    the whitespace split per element (see text.word_ngrams_of)."""
    toks = df.select(F.col(id_col).alias("_id"), tokens(F.col(text_col)).alias("_toks"))
    return toks.select("_id", word_ngrams_of(F.col("_toks"), shingle_n).alias("shingles"))


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact duplicate groups: (text_hash, keep_id = min id, dup_count)."""
    return (
        df.groupBy(F.md5(F.col(text_col).cast("string")).alias("text_hash"))
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("dup_count"))
    )


def dedup_keep_first(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """The deduplicated relation itself (keep the min-id row per text)."""
    w_keep = exact_dedup(df, text_col, id_col).select("keep_id")
    return df.join(w_keep, df[id_col] == w_keep["keep_id"], "left_semi")


def normalize_text(text: Column) -> Column:
    """Canonical text key for normalization-robust exact dedup: lowercase,
    map every character outside [a-z0-9] to a space, collapse whitespace
    runs, trim.  Catches re-crawls that differ only in case, punctuation,
    or layout — the cheap deterministic tier between ``exact_dedup``
    (byte-identical) and MinHash (token-set similarity).  Pure column
    expression (whole-stage codegen, no UDF)."""
    return F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(text), "[^a-z0-9]", " "), " +", " "
        )
    )


def normalized_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Duplicate groups under the NORMALIZED text key:
    (norm_hash, keep_id = min id, dup_count).

    Same plan shape as ``exact_dedup`` — one hash-aggregate shuffle on the
    16-byte md5 of the normalized key with map-side partial aggregation, so
    at 100 TB the full text never shuffles, only (hash, id) pairs."""
    return df.groupBy(
        F.md5(normalize_text(F.col(text_col))).alias("norm_hash")
    ).agg(F.min(id_col).alias("keep_id"), F.count("*").alias("dup_count"))


def minhash_signature(text: Column, num_hashes: int = 16, shingle_n: int = 3, seed: int = 7) -> Column:
    """Array of ``num_hashes`` MinHash values over word n-gram shingles.

    One ``aggregate`` pass over the shingle array: the md5-based base hash is
    computed ONCE per shingle and all ``num_hashes`` running minima update via
    ``zip_with``.  (The naive per-hash ``array_min(transform(base, ...))``
    form re-evaluates the md5 chain num_hashes times — 16× slower, measured.)
    No explode, no shuffle.

    Column-expression form for composing into arbitrary projections; the
    DataFrame-level ``minhash_signatures`` stages the shingle and base-hash
    arrays as materialized columns instead, which avoids Catalyst re-inlining
    the producer arrays and is ~2× faster — prefer it for full-table runs.
    """
    shingles = word_ngrams(text, shingle_n)
    base = F.transform(shingles, lambda s: h32(s))
    params = minhash_params(num_hashes, seed)
    init = F.array(*[F.lit(MERSENNE_P).cast("bigint") for _ in params])

    def step(acc: Column, h: Column) -> Column:
        affines = F.array(*[(F.lit(a) * h + F.lit(b)) % F.lit(MERSENNE_P) for a, b in params])
        return F.zip_with(acc, affines, lambda x, y: F.least(x, y))

    return F.aggregate(base, init, step)


def _minhash_staged(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int,
    shingle_n: int,
    seed: int,
) -> DataFrame:
    """(_id, shingles, sig) with every pipeline stage materialized as a
    column (tokens→shingles→base hashes→signature).  One folded expression
    makes Catalyst re-evaluate the producer array per element access — the
    same O(n²) trap as the fingerprint pipeline; staging measured ~2×
    faster at sf0.1."""
    sh = _staged_shingles(df, text_col, id_col, shingle_n)
    base = sh.select("_id", "shingles", F.transform("shingles", lambda s: h32(s)).alias("_b"))
    params = minhash_params(num_hashes, seed)
    init = F.array(*[F.lit(MERSENNE_P).cast("bigint") for _ in params])

    def step(acc: Column, h: Column) -> Column:
        affines = F.array(*[(F.lit(a) * h + F.lit(b)) % F.lit(MERSENNE_P) for a, b in params])
        return F.zip_with(acc, affines, lambda x, y: F.least(x, y))

    return base.select("_id", "shingles", F.aggregate("_b", init, step).alias("sig"))


def minhash_staged_cols(
    df: DataFrame,
    text_col: str,
    keep: list[str],
    num_hashes: int = 16,
    shingle_n: int = 3,
    seed: int = 7,
    sig_col: str = "sig",
) -> DataFrame:
    """``df`` narrowed to ``keep`` + a MinHash ``sig_col``, with every
    pipeline stage (tokens → shingles → base hashes → signature) staged as
    its own projection — the same Catalyst re-inlining guard as
    ``_minhash_staged`` (a folded ``minhash_signature`` expression
    re-evaluates the tokenizer O(shingle_n · n_tokens) times per row;
    staging measured ~2× faster on the batch path and cut the streaming
    near-dup signature stage the same way).  Works on streaming frames —
    projections preserve watermarks — which is why it takes an explicit
    ``keep`` list instead of assuming the batch (_id, shingles) shape."""
    toks = df.select(*keep, tokens(F.col(text_col)).alias("_toks"))
    sh = toks.select(*keep, word_ngrams_of(F.col("_toks"), shingle_n).alias("_sh"))
    base = sh.select(*keep, F.transform("_sh", lambda s: h32(s)).alias("_b"))
    params = minhash_params(num_hashes, seed)
    init = F.array(*[F.lit(MERSENNE_P).cast("bigint") for _ in params])

    def step(acc: Column, h: Column) -> Column:
        affines = F.array(*[(F.lit(a) * h + F.lit(b)) % F.lit(MERSENNE_P) for a, b in params])
        return F.zip_with(acc, affines, lambda x, y: F.least(x, y))

    return base.select(*keep, F.aggregate("_b", init, step).alias(sig_col))


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    shingle_n: int = 3,
    seed: int = 7,
) -> DataFrame:
    staged = _minhash_staged(df, text_col, id_col, num_hashes, shingle_n, seed)
    return staged.select(F.col("_id").alias(id_col), F.col("sig").alias("signature"))


def minhash_band_struct(sig_col: Column, num_hashes: int, bands: int) -> Column:
    """Exploded (band, key) structs of a MinHash signature column — the LSH
    banding projection, shared by the batch pair join and the streaming
    near-dup operator (both sides must band identically)."""
    rows_per_band = num_hashes // bands
    return F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(bi).alias("band"),
                    F.concat_ws(
                        "_",
                        *[sig_col[bi * rows_per_band + r] for r in range(rows_per_band)],
                    ).alias("key"),
                )
                for bi in range(bands)
            ]
        )
    )


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard similarity of two (distinct-element) array columns."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(a) + F.size(b) - inter
    return inter.cast("double") / F.greatest(union, F.lit(1))


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    seed: int = 7,
    max_band_size: int | None = 1000,
) -> DataFrame:
    """Near-duplicate pairs (id_a < id_b, jaccard) with Jaccard ≥ threshold.

    Candidate generation: docs sharing any of ``bands`` LSH band keys.
    ``max_band_size`` drops degenerate hot bands (e.g. empty/boilerplate
    shingle sets) — the skew guard that keeps the band join from exploding
    at corpus scale; pass None to disable.
    """
    # The md5-chain signature + shingle set is the expensive part — persist it
    # so the band-size guard and the two candidate-join sides read it once
    # instead of recomputing it three times.
    sigs = persist(_minhash_staged(df, text_col, id_col, num_hashes, shingle_n, seed))
    # The band self-join carries only (band, key, id) — the heavy shingle
    # arrays are fetched by id AFTER candidate dedup, so they never ride
    # through the band shuffle (at corpus scale the candidate set is orders
    # of magnitude smaller than banded x banded).
    banded = sigs.select(
        "_id", minhash_band_struct(F.col("sig"), num_hashes, bands).alias("bk")
    ).select("_id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))

    if max_band_size is not None:
        sizes = banded.groupBy("band", "key").count().filter(F.col("count") <= max_band_size)
        banded = banded.join(sizes.select("band", "key"), ["band", "key"], "left_semi")

    left = banded.select(F.col("band"), F.col("key"), F.col("_id").alias("id_a"))
    right = banded.select(F.col("band"), F.col("key"), F.col("_id").alias("id_b"))
    candidates = (
        left.join(right, ["band", "key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    sh_a = sigs.select(F.col("_id").alias("id_a"), F.col("shingles").alias("sh_a"))
    sh_b = sigs.select(F.col("_id").alias("id_b"), F.col("shingles").alias("sh_b"))
    return (
        candidates.join(sh_a, "id_a")
        .join(sh_b, "id_b")
        .withColumn("jaccard", F.round(jaccard(F.col("sh_a"), F.col("sh_b")), 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


#: Two's-complement weight of bit 63 — the sign bit of a signed 64-bit int.
_BIT63 = -(1 << 63)


def simhash64(text: Column, seed: int = 7) -> Column:
    """64-bit SimHash of the token multiset, as a (signed) BIGINT expression.

    bit_i = sign of sum over tokens of (±1 by bit i of the token hash); ties
    (sum == 0) resolve to 0.  The token hash takes the first 16 hex digits of
    a seed-salted md5 as two full 32-bit halves, so all 64 bits carry signal
    (a mod-(2³¹−1) reduction would structurally zero the top bit of each
    half).  Bit 63 contributes −2⁶³, i.e. the signature is the two's-
    complement signed value — portable because XOR/bit_count/shift-and-mask
    agree between Spark and DuckDB on signed 64-bit integers.
    """
    salt = F.lit(f"sh{seed}_")
    base = F.transform(
        tokens(text),
        lambda t: F.struct(
            F.conv(F.substring(F.md5(F.concat(salt, t)), 1, 8), 16, 10)
            .cast("bigint")
            .alias("lo"),
            F.conv(F.substring(F.md5(F.concat(salt, t)), 9, 8), 16, 10)
            .cast("bigint")
            .alias("hi"),
        ),
    )
    init = F.array(*[F.lit(0).cast("bigint") for _ in range(64)])

    def step(acc: Column, h: Column) -> Column:
        # ±1 vote per bit, all 64 bits in one zip_with pass over the
        # materialized (lo, hi) struct — md5 is computed in the transform
        # above, not once per bit.
        votes = F.array(
            *[
                F.when(
                    F.shiftright(h["lo"] if i < 32 else h["hi"], i % 32).bitwiseAND(F.lit(1))
                    == 1,
                    F.lit(1),
                )
                .otherwise(F.lit(-1))
                .cast("bigint")
                for i in range(64)
            ]
        )
        return F.zip_with(acc, votes, lambda x, y: x + y)

    def finish(acc: Column) -> Column:
        out = F.lit(0).cast("bigint")
        for i in range(64):
            weight = F.lit(_BIT63 if i == 63 else 1 << i).cast("bigint")
            out = out + F.when(F.element_at(acc, i + 1) > 0, weight).otherwise(F.lit(0))
        return out

    return F.aggregate(base, init, step, finish)


def _simhash_vote_udf():
    """Arrow-batched vote accumulation for SimHash: given the per-token md5
    halves (array<bigint> lo/hi), return the 64-bit signature.

    Pure INTEGER math (bit tests, ±1 votes, power-of-two packing), so the
    result is exactly ``simhash64``'s aggregate-finish — no float-parity
    caveat.  The interpreted HOF form costs 64 interpreted ops per token
    (~5 s for 5 000 docs at sf0.1); this is vectorized per row."""
    from pyspark.sql.types import LongType

    shifts = np.arange(32, dtype=np.int64)
    weights = np.int64(1) << np.arange(64, dtype=np.int64)  # [63] wraps to −2⁶³

    @F.pandas_udf(LongType())
    def sig(lo: pd.Series, hi: pd.Series) -> pd.Series:
        out = np.zeros(len(lo), dtype=np.int64)
        for r in range(len(lo)):
            l = np.asarray(lo.iloc[r], dtype=np.int64)
            if l.size == 0:
                continue  # empty token set → all votes 0 → signature 0
            h = np.asarray(hi.iloc[r], dtype=np.int64)
            votes = np.concatenate(
                [((l[:, None] >> shifts) & 1), ((h[:, None] >> shifts) & 1)], axis=1
            ) * 2 - 1
            out[r] = weights[votes.sum(axis=0) > 0].sum()
        return pd.Series(out)

    return sig


def simhash64_frame(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", seed: int = 7
) -> DataFrame:
    """(_id, sh) SimHash relation with every stage materialized: tokens →
    seed-salted md5 hex (ONE md5 per token) → (lo, hi) 32-bit halves →
    vectorized vote accumulation (see ``_simhash_vote_udf``).  Same
    signatures as the ``simhash64`` column expression, ~3× faster on full
    tables; md5 and tokenization stay JVM-side for oracle portability."""
    salt = F.lit(f"sh{seed}_")
    toks = df.select(F.col(id_col).alias("_id"), tokens(F.col(text_col)).alias("_toks"))
    hexed = toks.select(
        "_id", F.transform("_toks", lambda t: F.md5(F.concat(salt, t))).alias("_hx")
    )
    halves = hexed.select(
        "_id",
        F.transform(
            "_hx", lambda x: F.conv(F.substring(x, 1, 8), 16, 10).cast("bigint")
        ).alias("_lo"),
        F.transform(
            "_hx", lambda x: F.conv(F.substring(x, 9, 8), 16, 10).cast("bigint")
        ).alias("_hi"),
    )
    return halves.select(
        "_id", _simhash_vote_udf()(F.col("_lo"), F.col("_hi")).alias("sh")
    )


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    seed: int = 7,
) -> DataFrame:
    """Pairs with SimHash hamming distance ≤ max_hamming (default 3).

    Candidates via the 4×16-bit block pigeonhole: distance ≤ 3 implies at
    least one of the 4 blocks is identical, so candidate generation is an
    equi-join on (block_index, block_value) instead of a cross join.  The
    arithmetic shift + mask extracts the same bit pattern for negative
    (bit-63-set) signatures in both Spark and the DuckDB oracle.
    """
    sh = simhash64_frame(df, text_col, id_col, seed)
    blocks = sh.select(
        "_id",
        "sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("blk"),
                        F.shiftright(F.col("sh"), bi * 16).bitwiseAND(F.lit(65535)).alias("val"),
                    )
                    for bi in range(4)
                ]
            )
        ).alias("b"),
    ).select("_id", "sh", F.col("b.blk").alias("blk"), F.col("b.val").alias("val"))
    left = blocks.select("blk", "val", F.col("_id").alias("id_a"), F.col("sh").alias("sh_a"))
    right = blocks.select("blk", "val", F.col("_id").alias("id_b"), F.col("sh").alias("sh_b"))
    return (
        left.join(right, ["blk", "val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
        .withColumn("hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    shingle_n: int = 3,
    max_posting_size: int | None = None,
    prefix: bool = False,
) -> DataFrame:
    """EXACT all-pairs n-gram Jaccard ≥ threshold via an inverted index.

    Two candidate-generation strategies, both returning the identical exact
    result (measured crossover decides which to run):

    - ``prefix=False`` (default): full posting self-join → per-pair common
      counts → Jaccard from counts.  Cost is Σ df(s)² pair rows over
      shingle document frequencies — at the test corpus (max df 25,
      Σdf² ≈ 3M at sf0.1) this is the faster plan by ~2.5×, because it
      needs no per-document ranking pass.
    - ``prefix=True``: AllPairs/PPJoin prefix filtering.  Shingles are
      ranked rarest-first per document (window over the posting frame);
      two sets with Jaccard ≥ t must collide within their first
      ``|x| − ⌈t·|x|⌉ + 1`` shingles, so only prefixes are indexed and the
      surviving candidates are verified with ``array_intersect`` on the
      full sets.  LOSSLESS — and the plan to run at boilerplate-heavy
      corpus scale, where hot postings make Σ df² quadratic while prefixes
      exclude exactly those shingles.

    ``max_posting_size`` is an optional hot-shingle guard: in the default
    path it drops capped shingles from the COUNTS (recall-bounded, may
    lower Jaccard of boilerplate-only pairs); in the prefix path it caps
    prefix postings only (Jaccard values unaffected).
    """
    from pyspark.sql import Window

    sh = persist(_staged_shingles(df, text_col, id_col, shingle_n))
    sizes = sh.select("_id", F.size("shingles").alias("_n"))
    post = sh.select("_id", F.explode("shingles").alias("sh"))
    if prefix:
        post = persist(post)

    if prefix:
        freq = post.groupBy("sh").agg(F.count("*").alias("_df"))
        rk = Window.partitionBy("_id").orderBy("_df", "sh")
        prefix_len = (
            F.col("_n") - F.ceil(F.lit(threshold) * F.col("_n")).cast("int") + F.lit(1)
        )
        pref = (
            post.join(freq, "sh")
            .withColumn("_rk", F.row_number().over(rk))
            .join(sizes, "_id")
            .filter(F.col("_rk") <= prefix_len)
            .select("_id", "sh")
        )
        if max_posting_size is not None:
            small = pref.groupBy("sh").count().filter(F.col("count") <= max_posting_size)
            pref = pref.join(small.select("sh"), "sh", "left_semi")
        cand = (
            pref.select(F.col("sh"), F.col("_id").alias("id_a"))
            .join(pref.select(F.col("sh"), F.col("_id").alias("id_b")), "sh")
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .dropDuplicates(["id_a", "id_b"])
        )
        sh_a = sh.select(F.col("_id").alias("id_a"), F.col("shingles").alias("_sha"))
        sh_b = sh.select(F.col("_id").alias("id_b"), F.col("shingles").alias("_shb"))
        inter = F.size(F.array_intersect(F.col("_sha"), F.col("_shb")))
        union = F.size("_sha") + F.size("_shb") - inter
        return (
            cand.join(sh_a, "id_a")
            .join(sh_b, "id_b")
            .withColumn(
                "jaccard",
                F.round(inter.cast("double") / F.greatest(union, F.lit(1)), 6),
            )
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard")
        )

    if max_posting_size is not None:
        small = post.groupBy("sh").count().filter(F.col("count") <= max_posting_size)
        post = post.join(small.select("sh"), "sh", "left_semi")
    common = (
        post.select(F.col("sh"), F.col("_id").alias("id_a"))
        .join(post.select(F.col("sh"), F.col("_id").alias("id_b")), "sh")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("_common"))
    )
    return (
        common.join(sizes.select(F.col("_id").alias("id_a"), F.col("_n").alias("_na")), "id_a")
        .join(sizes.select(F.col("_id").alias("id_b"), F.col("_n").alias("_nb")), "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("_common").cast("double")
                / F.greatest(F.col("_na") + F.col("_nb") - F.col("_common"), F.lit(1)),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    shingle_n: int = 3,
    max_posting_size: int | None = None,
) -> DataFrame:
    """EXACT all-pairs shingle CONTAINMENT — the asymmetric-Jaccard screen
    (Broder 1997's containment c(A,B) = |A∩B|/|A|): detects a short
    document embedded in a long one (boilerplate, quotes, page templates,
    partial crawls), which symmetric Jaccard structurally misses — a
    contained 50-shingle doc inside a 5000-shingle doc has c = 1.0 but
    Jaccard ≤ 0.01, below any sane dedup threshold.

    Same inverted-index plan as ``ngram_jaccard_pairs``'s default path
    (posting self-join → per-pair common counts → scores from counts; the
    asymmetric scores are pure projections of the same three quantities),
    same ``max_posting_size`` hot-shingle guard.  Emits one row per
    unordered pair with BOTH directions scored, filtered on the max — the
    caller decides which side is the keeper (usually: drop the contained
    side, keep the superset).

    Output: (id_a < id_b, common, cont_a_in_b, cont_b_in_a), 6-dp rounded.
    """
    sh = persist(_staged_shingles(df, text_col, id_col, shingle_n))
    sizes = sh.select("_id", F.size("shingles").alias("_n"))
    post = sh.select("_id", F.explode("shingles").alias("sh"))
    if max_posting_size is not None:
        small = post.groupBy("sh").count().filter(F.col("count") <= max_posting_size)
        post = post.join(small.select("sh"), "sh", "left_semi")
    common = (
        post.select(F.col("sh"), F.col("_id").alias("id_a"))
        .join(post.select(F.col("sh"), F.col("_id").alias("id_b")), "sh")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("common"))
    )
    c_ab = F.round(
        F.col("common").cast("double") / F.greatest(F.col("_na"), F.lit(1)), 6
    )
    c_ba = F.round(
        F.col("common").cast("double") / F.greatest(F.col("_nb"), F.lit(1)), 6
    )
    return (
        common.join(
            sizes.select(F.col("_id").alias("id_a"), F.col("_n").alias("_na")), "id_a"
        )
        .join(sizes.select(F.col("_id").alias("id_b"), F.col("_n").alias("_nb")), "id_b")
        .withColumn("cont_a_in_b", c_ab)
        .withColumn("cont_b_in_a", c_ba)
        .filter(F.greatest("cont_a_in_b", "cont_b_in_a") >= threshold)
        .select("id_a", "id_b", "common", "cont_a_in_b", "cont_b_in_a")
    )


def _dp_levenshtein(a: str, b: str) -> int:
    """Plain O(|a|·|b|) Levenshtein — the reference/fallback for the
    bit-parallel verify (patterns longer than one 64-bit word)."""
    if len(a) < len(b):
        a, b = b, a
    dp = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        prev, dp[0] = dp[0], i
        for j, cb in enumerate(b, 1):
            prev, dp[j] = dp[j], min(dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb))
    return dp[-1]


#: padding sentinel for the codepoint matrices — not a valid Unicode
#: codepoint, so it can never collide with real text.
_CP_PAD = 0x7FFFFFFF


def _cp_matrix(strs, width: int, lens):
    """(len(strs), width) uint32 codepoint matrix, padded with _CP_PAD.

    One join + one utf-32 encode for the whole batch — no per-row Python
    work beyond the join — so the verify stays codepoint-exact (identical
    to JVM/DuckDB ``levenshtein``) for any Unicode input, not just ASCII."""
    import numpy as np

    flat = np.frombuffer("".join(strs).encode("utf-32-le"), dtype=np.uint32)
    offs = np.zeros(len(strs), np.int64)
    np.cumsum(lens[:-1], out=offs[1:])
    pos = np.arange(width, dtype=np.int64)
    gather = offs[:, None] + np.minimum(pos[None, :], np.maximum(lens[:, None] - 1, 0))
    if len(flat) == 0:
        return np.full((len(strs), width), _CP_PAD, np.uint32)
    mat = flat[np.minimum(gather, len(flat) - 1)]
    return np.where(pos[None, :] < lens[:, None], mat, np.uint32(_CP_PAD))


def _myers_distances(strs_a, strs_b):
    """Exact Levenshtein distance for K string pairs as an int64 array —
    Myers' bit-parallel algorithm (Myers 1999; Hyyrö 2001 formulation),
    vectorized ACROSS pairs with numpy uint64 words.

    Thin wrapper over ``_myers_distances_indexed``: dedupes BOTH sides
    (blocking-bucket join output repeats each string across many
    candidates) and hands over index arrays, so codepoint matrices and
    PEQ tables are built once per distinct string, not once per pair."""
    import numpy as np

    K = len(strs_a)
    seen_a: dict = {}
    inv_a = np.fromiter(
        (seen_a.setdefault(s, len(seen_a)) for s in strs_a), np.int64, K
    )
    seen_b: dict = {}
    inv_b = np.fromiter(
        (seen_b.setdefault(s, len(seen_b)) for s in strs_b), np.int64, K
    )
    return _myers_distances_indexed(list(seen_a), list(seen_b), inv_a, inv_b)


def _myers_distances_indexed(strs_a, strs_b, inv_a, inv_b):
    """Myers distances for the K pairs ``(strs_a[inv_a[k]],
    strs_b[inv_b[k]])`` — the tiled screen's entry point: a group hands
    over its ~2·(bucket/T) distinct strings plus int index arrays, so the
    quadratic pair set never exists as Python lists and every per-STRING
    cost (utf-32 codepoint matrix, alphabet searchsorted, PEQ build) is
    paid per distinct string while only the per-PAIR DP state (vp, vn,
    score — ~15 uint64 word ops per DP column) scales with K.  Each DP
    column costs ~15 word operations on the whole batch, so a 48-char
    comparison is ~48 vector steps instead of 48×48 scalar cells.
    Patterns longer than 64 codepoints (no single-word bit vector) fall
    back to the plain DP per pair; zero-length patterns short-circuit to
    |b|.  Distances are codepoint-level, identical to Spark's and
    DuckDB's ``levenshtein`` for any Unicode input."""
    import numpy as np

    K = len(inv_a)
    out = np.empty(K, np.int64)
    if K == 0:
        return out
    mu_a = np.fromiter((len(s) for s in strs_a), np.int64, len(strs_a))
    mu_b = np.fromiter((len(s) for s in strs_b), np.int64, len(strs_b))
    la = mu_a[inv_a]
    lb = mu_b[inv_b]
    hard = la > 64
    if hard.any():
        for i in np.nonzero(hard)[0]:
            out[i] = _dp_levenshtein(strs_a[inv_a[i]], strs_b[inv_b[i]])
    zero = (~hard) & (la == 0)
    out[zero] = lb[zero]
    easy = np.nonzero(~hard & (la > 0))[0]
    if len(easy) == 0:
        return out
    # compact to the distinct strings the easy pairs actually reference
    # (keeps the PEQ shift invariant: every included pattern fits one
    # 64-bit word even if a >64-codepoint pattern sits in strs_a)
    used_a = np.unique(inv_a[easy])
    remap_a = np.zeros(len(strs_a), np.int64)
    remap_a[used_a] = np.arange(len(used_a))
    ia = remap_a[inv_a[easy]]
    uniq = [strs_a[int(k)] for k in used_a]
    mu = mu_a[used_a]
    used_b = np.unique(inv_b[easy])
    remap_b = np.zeros(len(strs_b), np.int64)
    remap_b[used_b] = np.arange(len(used_b))
    ib = remap_b[inv_b[easy]]
    uniq_b = [strs_b[int(k)] for k in used_b]
    mu_bu = mu_b[used_b]
    wa = int(mu.max())
    P = _cp_matrix(uniq, wa, mu)
    alpha = np.unique(P)  # sorted; may include the pad sentinel
    aidx = np.searchsorted(alpha, P)
    n_alpha = len(alpha)
    peq = np.zeros((len(uniq), n_alpha + 1), np.uint64)
    rows = np.arange(len(uniq))
    one = np.uint64(1)
    for i in range(wa):
        active = i < mu
        peq[rows[active], aidx[active, i]] |= one << np.uint64(i)
    pad_pos = np.searchsorted(alpha, _CP_PAD)
    if pad_pos < n_alpha and alpha[pad_pos] == _CP_PAD:
        peq[:, pad_pos] = 0  # pattern padding matches nothing
    lb_e = lb[easy]
    wb = int(mu_bu.max()) if len(mu_bu) else 0
    B = _cp_matrix(uniq_b, max(wb, 1), mu_bu)
    tpos = np.searchsorted(alpha, B)
    tclip = np.minimum(tpos, n_alpha - 1)
    tidx = np.where(alpha[tclip] == B, tclip, n_alpha)  # absent char -> zero column
    la_e = la[easy].astype(np.uint64)
    vp = np.where(la_e == 64, ~np.uint64(0), (one << la_e) - one)
    vn = np.zeros(len(easy), np.uint64)
    score = la[easy].copy()
    sbit = la_e - one
    izero = np.int64(0)
    for j in range(wb):
        validj = j < lb_e
        eq = peq[ia, tidx[ib, j]]
        d0 = (((eq & vp) + vp) ^ vp) | eq | vn
        hp = vn | ~(d0 | vp)
        hn = vp & d0
        delta = ((hp >> sbit) & one).astype(np.int64) - (
            (hn >> sbit) & one
        ).astype(np.int64)
        score += np.where(validj, delta, izero)
        hp = (hp << one) | one
        hn = hn << one
        vp_new = hn | ~(d0 | hp)
        vn_new = hp & d0
        vp = np.where(validj, vp_new, vp)
        vn = np.where(validj, vn_new, vn)
    out[easy] = score
    return out


def _editdist_tiled(
    keyed: DataFrame, with_fk: bool, max_dist: int, tiles: int
) -> DataFrame:
    """Tiled pair generation for ``editdist_pairs(verify="tiled")``.

    ``keyed`` is (_id, _s, _bk[, _fk]).  A cell is (bucket key(s), tile)
    with tile = pmod(xxhash64(_id), tiles) — deterministic under retries
    (guide §2.5: never derive a partitioning key from rand()).  Each row
    is replicated once per COMPATIBLE partner cell (every bucket offset in
    {-1,0,+1} per bucket dimension × every tile), keyed by the unordered
    cell pair (lo ≤ hi by struct order); one ``applyInArrow`` group per
    cell pair then generates its candidate pairs as numpy index arrays and
    verifies them with the bit-parallel Myers kernel, so the Python
    boundary carries O(rows · 3·T) short strings instead of O(candidate
    pairs) (guide §2.3: shuffle keys and metadata, not the pair explode;
    §8: generate the quadratic term inside the kernel).

    Exactly-once: a qualifying pair (lev ≤ d ⇒ bucket distance ≤ 1 per
    dimension) lands in exactly the one group {cell_a, cell_b}; a
    self-group emits the strict upper triangle of its rows, a cross-group
    the lo-side × hi-side product.  Pairs whose ids collide are dropped
    (mirrors the join paths' id_a < id_b) and output ids are normalized
    to id_a < id_b, so the relation is IDENTICAL to the join-based paths.

    ``tiles`` trades replication (3·T copies of each row cross the
    boundary) against group granularity (a cell holds ~bucket/T rows, a
    group ~2× that); pick T so the densest bucket's cells hold a few
    hundred rows — parallelism then comes from T(T+1)/2 groups per hot
    bucket instead of one quadratic task, which is the 100 TB story for
    corpora where every row shares one length bucket."""
    md = int(max_dist)
    T = int(tiles)
    if T < 1:
        raise ValueError(f"tiles must be >= 1, got {tiles}")
    bcols = ["_bk", "_fk"] if with_fk else ["_bk"]
    ccols = bcols + ["_t"]
    tiled = keyed.withColumn(
        "_t", F.pmod(F.xxhash64("_id"), F.lit(T)).cast("long")
    )
    own = F.struct(*[F.col(c).alias(c) for c in ccols])
    import itertools

    partners = F.array(
        *[
            F.struct(
                *[(F.col(c) + F.lit(d)).alias(c) for c, d in zip(bcols, offs)],
                F.lit(t2).cast("long").alias("_t"),
            )
            for offs in itertools.product((-1, 0, 1), repeat=len(bcols))
            for t2 in range(T)
        ]
    )
    lo, hi = F.least(own, F.col("_p")), F.greatest(own, F.col("_p"))
    grouped = (
        tiled.withColumn("_p", F.explode(partners))
        .select(
            "_id",
            "_s",
            *[lo[c].alias(f"_lo{c}") for c in ccols],
            *[hi[c].alias(f"_hi{c}") for c in ccols],
            (own == lo).alias("_is_lo"),
            (lo == hi).alias("_is_self"),
        )
    )
    ida_t = keyed.schema["_id"].dataType.simpleString()

    def _gen(table):
        import numpy as np
        import pyarrow as pa

        strs = table.column("_s").to_pylist()
        n = len(strs)
        ids = np.asarray(table.column("_id"))
        if table.column("_is_self")[0].as_py():
            ia, ib = np.triu_indices(n, k=1)
        else:
            side = np.asarray(table.column("_is_lo"))
            ai, bi = np.nonzero(side)[0], np.nonzero(~side)[0]
            ia, ib = np.repeat(ai, len(bi)), np.tile(bi, len(ai))
        empty = pa.table(
            {
                "id_a": pa.array([], type=table.schema.field("_id").type),
                "id_b": pa.array([], type=table.schema.field("_id").type),
                "dist": pa.array([], type=pa.int64()),
            }
        )
        if len(ia) == 0:
            return empty
        # index form: the pair set exists only as int arrays — per-string
        # matrices/PEQ are built once per distinct group member
        dist = _myers_distances_indexed(strs, strs, ia, ib)
        a, b = ids[ia], ids[ib]
        keep = np.nonzero((dist <= md) & (a != b))[0]
        if len(keep) == 0:
            return empty
        a, b, dist = a[keep], b[keep], dist[keep]
        swap = a > b
        return pa.table(
            {
                "id_a": pa.array(
                    np.where(swap, b, a), type=table.schema.field("_id").type
                ),
                "id_b": pa.array(
                    np.where(swap, a, b), type=table.schema.field("_id").type
                ),
                "dist": pa.array(dist, type=pa.int64()),
            }
        )

    # Pin the grouped stage's width: the exploded relation is tiny in
    # BYTES (short strings), so AQE's advisory-size coalescing would fold
    # the group shuffle to a handful of partitions and serialize the
    # kernel, whose cost is the PAIR count, not the byte count (measured
    # at the sf0.1 screen: 8 coalesced tasks → 10.5 s vs 32 pinned →
    # the kernel floor).  An explicit user repartition on the exact group
    # key is respected by AQE and reused by the groupBy (guide §2.4), so
    # there is still exactly one exchange.
    gcols = [f"_lo{c}" for c in ccols] + [f"_hi{c}" for c in ccols]
    par = keyed.sparkSession.sparkContext.defaultParallelism
    return (
        grouped.repartition(par, *gcols)
        .groupBy(*gcols)
        .applyInArrow(_gen, f"id_a {ida_t}, id_b {ida_t}, dist bigint")
    )


def editdist_pairs(
    df: DataFrame,
    str_expr,
    id_col: str = "doc_id",
    max_dist: int = 8,
    second_feature=None,
    verify: str = "arrow",
    tiles: int = 16,
) -> DataFrame:
    """EXACT all-pairs Levenshtein ≤ ``max_dist`` over a SHORT string
    expression (titles, normalized prefixes, product names — the fuzzy
    dedup verb for fields where shingle sets are too coarse), via LOSSLESS
    length-bucket blocking.

    Blocking argument: edit distance is bounded below by the length
    difference, so dist ≤ d implies |len(a) − len(b)| ≤ d; with bucket
    width d+1 the two buckets differ by at most 1.  One side explodes to
    its bucket ±1, the other keeps its single bucket, and the equi-join on
    the bucket key meets every qualifying pair EXACTLY once (the probe
    side's id < base side's id picks one direction) — no candidate is
    missed, so the oracle can state the plain quadratic semantics while
    the plan stays an equi-join with ~3× probe duplication instead of a
    cartesian.  Verification (``verify``):

    - ``"tiled"`` (r13, the screen's path): rows never pre-join — each
      length bucket is cut into ``tiles`` deterministic cells
      (``pmod(xxhash64(id), T)``) and every UNORDERED pair of compatible
      cells (bucket distance ≤ 1) becomes one ``applyInArrow`` group, so
      each string crosses the Python boundary once per partner cell (3·T
      copies/row) instead of once per candidate PAIR, and the quadratic
      pair set is generated as numpy index arrays inside the kernel.
      Measured at the sf0.1 screen: the 12.5M-pair Arrow transfer that
      dominated the ``"arrow"`` path (4.4 s of 5.2) collapses to ~240 k
      short rows.  Exactly-once: a qualifying pair's two cells form ONE
      unordered group; within a self-group (cell, cell) pairs are the
      strict upper triangle, across a cross-group the lo×hi product.
    - ``"arrow"`` (default) runs the same vectorized bit-parallel Myers
      kernel (``_myers_distances``) over pre-joined candidate batches —
      codepoint-exact, identical to Spark's and DuckDB's ``levenshtein``;
      right when buckets are sparse (few candidates per row, so tiling's
      3·T-per-row replication would exceed the pair explode).
    - ``"jvm"`` keeps Spark's built-in banded ``levenshtein`` (zero
      Python nodes — the reference path both kernels are tested against).

    At 100 TB: candidates per row are bounded by the length-bucket
    occupancy, not the corpus; for heavy buckets (everything is 40-60
    chars) the tiled path additionally splits the hot bucket's quadratic
    work across T(T+1)/2 groups instead of one join partition, and
    ``second_feature`` (opt-in, r13 — the VERDICT r12 scale fix)
    AND-composes a SECOND lossless blocking dimension into the cell key
    when the screened field is long relative to ``max_dist``.

    ``second_feature``: an integer column expression over the input row
    that moves by AT MOST 1 under any single edit (1-Lipschitz in edit
    distance) — e.g. the count of one character class in the screened
    string (a substitution/insert/delete changes any such count by ≤ 1).
    Then dist ≤ d bounds the feature difference by d, the same bucket
    argument applies (width d+1, buckets differ by ≤ 1), and AND-ing the
    two bucket keys stays LOSSLESS: every qualifying pair still meets
    exactly once (the base side keeps its unique (len-bucket, feat-
    bucket) key; the probe explodes the 3×3 neighborhood).  Probe
    duplication grows 3× → 9×, but a dense length bucket subdivides by
    the second feature, so candidate PAIRS — the quadratic term the
    Levenshtein verify pays for — drop by the occupancy of the joint
    key.  Output is IDENTICAL with or without it; the oracle states the
    same plain quadratic semantics either way.

    Output: (id_a < id_b, dist), dist ≤ max_dist.
    """
    w = int(max_dist) + 1
    keyed = df.select(
        F.col(id_col).alias("_id"),
        str_expr.alias("_s"),
        *(
            [F.floor(second_feature / w).cast("long").alias("_fk")]
            if second_feature is not None
            else []
        ),
    ).withColumn("_bk", F.floor(F.length("_s") / w).cast("long"))
    if verify == "tiled":
        return _editdist_tiled(
            keyed, second_feature is not None, int(max_dist), int(tiles)
        )
    if second_feature is not None:
        probe = keyed.select(
            F.col("_id").alias("id_a"),
            F.col("_s").alias("_sa"),
            F.explode(
                F.array(F.col("_bk") - 1, F.col("_bk"), F.col("_bk") + 1)
            ).alias("_bk"),
            "_fk",
        ).select(
            "id_a",
            "_sa",
            "_bk",
            F.explode(
                F.array(F.col("_fk") - 1, F.col("_fk"), F.col("_fk") + 1)
            ).alias("_fk"),
        )
        base = keyed.select(
            F.col("_id").alias("id_b"), F.col("_s").alias("_sb"), "_bk", "_fk"
        )
        join_key = ["_bk", "_fk"]
    else:
        probe = keyed.select(
            F.col("_id").alias("id_a"),
            F.col("_s").alias("_sa"),
            F.explode(
                F.array(F.col("_bk") - 1, F.col("_bk"), F.col("_bk") + 1)
            ).alias("_bk"),
        )
        base = keyed.select(
            F.col("_id").alias("id_b"), F.col("_s").alias("_sb"), "_bk"
        )
        join_key = ["_bk"]
    cand = probe.join(base, join_key).filter(F.col("id_a") < F.col("id_b"))
    if verify == "jvm":
        # threshold form: the JVM DP early-exits once a row of the band
        # exceeds max_dist (returns -1) — O(len·max_dist) per candidate
        # instead of O(len²).  At max_dist ≈ len/2 the band covers nearly
        # the whole table, so this path measured ~700 ns/pair core-time
        # at the sf0.1 screen; kept as the zero-Python-boundary reference
        # the arrow path is tested against.
        return (
            cand.withColumn(
                "dist",
                F.levenshtein(F.col("_sa"), F.col("_sb"), int(max_dist)).cast("long"),
            )
            .filter(F.col("dist") >= 0)
            .select("id_a", "id_b", "dist")
        )
    if verify != "arrow":
        raise ValueError(f"verify must be 'arrow' or 'jvm', got {verify!r}")
    # arrow verify (r13, guide §4.2): hand whole candidate batches to the
    # vectorized bit-parallel Myers kernel instead of the JVM's per-cell
    # DP — ~48 numpy word-ops per comparison vs ~48×45 scalar cells.
    # Measured at the sf0.1 screen (12.5M candidates): verify 8.7 → ~1.5 s.
    # Only the four needed columns cross the boundary (§4.1), and the
    # kernel filters, so candidate rows never come back — just the ≤
    # max_dist survivors.
    md = int(max_dist)
    ida_t = cand.schema["id_a"].dataType.simpleString()
    idb_t = cand.schema["id_b"].dataType.simpleString()

    def _verify(batches):
        import numpy as np
        import pyarrow as pa

        for batch in batches:
            strs_a = batch.column("_sa").to_pylist()
            if not strs_a:
                continue
            dist = _myers_distances(strs_a, batch.column("_sb").to_pylist())
            keep = dist <= md
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column("id_a").filter(pa.array(keep)),
                    batch.column("id_b").filter(pa.array(keep)),
                    pa.array(dist[keep], pa.int64()),
                ],
                names=["id_a", "id_b", "dist"],
            )

    return cand.select("id_a", "id_b", "_sa", "_sb").mapInArrow(
        _verify, f"id_a {ida_t}, id_b {idb_t}, dist bigint"
    )


def connected_components(
    edges: DataFrame,
    nodes: DataFrame,
    max_iter: int = 25,
    driver_local_edges: int = 1_000_000,
) -> DataFrame:
    """Connected components by iterative min-label propagation.

    ``edges`` is (id_a, id_b); ``nodes`` a single-column frame of ids.
    Returns (id, component) where component = min node id reachable — the
    canonical representative.  Each iteration joins current labels across
    the symmetrized edge list and takes the elementwise min; convergence is
    checked with one count of changed labels, and lineage is cut with
    ``localCheckpoint`` so plan depth stays O(1) per iteration instead of
    compounding (the standard Spark iterative-graph discipline).  Rounds =
    graph diameter — right for near-dup graphs, which are clique-like; for
    high-diameter graphs use ``connected_components_star`` (O(log²) rounds).
    Warns loudly if ``max_iter`` is hit before convergence instead of
    silently returning partial labels.

    ``driver_local_edges``: adaptive locality (the ``driverLocalRows``
    pattern the GP estimators use).  When the EDGE relation — tiny compared
    to the corpus whenever the dedup threshold does its job — fits under
    this cap, labels come from one driver-side union-find over the
    collected pairs plus one broadcast left join back onto ``nodes``:
    2 jobs total instead of (diameter + 1) rounds × (checkpoint job +
    convergence-count job).  Labels are identical by construction (min
    reachable id is what union-find with min-representative roots
    computes, independent of edge order), pinned by a fast-vs-loop
    equality test.  At 100 TB an edge set past the cap falls back to the
    distributed loop automatically; 0 disables the fast path.  The probe
    persists the 2-column edge projection and counts it — one fully
    parallel evaluation that the fast path then collects from cache and
    the fallback loop reads for BOTH branches of its symmetrizing union
    (which previously re-evaluated the whole edge subtree twice).
    """
    id_col = nodes.columns[0]
    edges2 = edges.select("id_a", "id_b")
    edges2_persisted = False
    if driver_local_edges and driver_local_edges > 0:
        edges2 = edges2.persist()
        edges2_persisted = True
        n_edges = edges2.count()
        if n_edges <= driver_local_edges:
            head = edges2.collect()
            edges2.unpersist()
            parent: dict = {}

            def find(x):
                root = x
                while parent[root] != root:
                    root = parent[root]
                while parent[x] != root:
                    parent[x], x = root, parent[x]
                return root

            for r in head:
                a, b = r[0], r[1]
                if a not in parent:
                    parent[a] = a
                if b not in parent:
                    parent[b] = b
                ra, rb = find(a), find(b)
                if ra != rb:
                    # min id stays the root, so the root IS the component
                    if rb < ra:
                        ra, rb = rb, ra
                    parent[rb] = ra
            mapping = [(x, find(x)) for x in parent]
            mapping = [(x, c) for x, c in mapping if x != c]
            id_type = nodes.schema[0].dataType
            from pyspark.sql.types import StructField, StructType

            spark = nodes.sparkSession
            if mapping:
                mdf = spark.createDataFrame(
                    mapping,
                    StructType(
                        [
                            StructField("id", id_type),
                            StructField("_cc_component", id_type),
                        ]
                    ),
                )
                return (
                    nodes.select(F.col(id_col).alias("id"))
                    .join(F.broadcast(mdf), "id", "left")
                    .select(
                        F.col("id").alias(id_col),
                        F.coalesce("_cc_component", F.col("id")).alias("component"),
                    )
                )
            return nodes.select(
                F.col(id_col), F.col(id_col).alias("component")
            )
    sym = edges2.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst")).union(
        edges2.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
    ).persist()
    # No seed checkpoint: the initial label frame is a pure 2-column
    # projection of ``nodes`` (lineage depth 1), so materializing it buys
    # no lineage cut — round 0's ``updated`` checkpoint below is the first
    # one that truncates anything.  (Pre-r13 the seed was eagerly
    # checkpointed: one full extra materialization job per CC call.)
    labels = nodes.select(
        F.col(id_col).alias("id"), F.col(id_col).alias("component")
    )
    changed = 0
    for _i in range(max_iter):
        if _i == 0:
            # Identity round: component == id at entry, so joining labels
            # onto sym is the identity map src -> src; the neighbor min is
            # just min(src) per dst, one aggregate with no join.
            neigh = sym.groupBy(F.col("dst").alias("id")).agg(
                F.min("src").alias("_neigh_min")
            )
        else:
            neigh = (
                sym.join(labels, sym["src"] == labels["id"])
                .groupBy(F.col("dst").alias("id"))
                .agg(F.min("component").alias("_neigh_min"))
            )
        updated = labels.join(neigh, "id", "left").select(
            "id",
            F.least(F.col("component"), F.coalesce("_neigh_min", F.col("component"))).alias(
                "component"
            ),
            (F.col("_neigh_min") < F.col("component")).alias("_changed"),
        )
        updated = updated.localCheckpoint(eager=True)
        changed = updated.filter(F.col("_changed")).limit(1).count()
        labels = updated.drop("_changed")
        if changed == 0:
            break
    sym.unpersist()
    if edges2_persisted:
        edges2.unpersist()
    if changed != 0:
        import warnings

        warnings.warn(
            f"connected_components did not converge within max_iter={max_iter} "
            "rounds (graph diameter exceeds the budget) — labels are PARTIAL. "
            "Raise max_iter or use connected_components_star, which needs "
            "O(log² n) rounds on any diameter.",
            stacklevel=2,
        )
    return labels.select(F.col("id").alias(id_col), "component")


def connected_components_star(
    edges: DataFrame,
    nodes: DataFrame,
    max_iter: int = 50,
) -> DataFrame:
    """Connected components by alternating large-star / small-star rounds
    (Kiveris et al., "Connected Components in MapReduce and Beyond") — the
    ``max_iter``-safe path for HIGH-DIAMETER graphs: converges in O(log² n)
    rounds regardless of diameter, where min-label propagation needs
    diameter rounds (a 1M-node chain: ~40 rounds vs 1M).

    Each round is two groupBy-join passes over the edge list:
    - large-star: every node links its larger neighbors to the minimum of
      its neighborhood (incl. itself),
    - small-star: every node links its smaller-or-equal neighbors (and
      itself) to that minimum.
    Both strictly preserve connectivity and monotonically shrink edge
    heights; at the fixed point every node's min-neighborhood IS its
    component representative.  Same contract as ``connected_components``:
    returns (id, component = min reachable id), singletons included.
    """
    id_col = nodes.columns[0]

    def _with_min(e: DataFrame) -> DataFrame:
        # (u, v, m) where m = min over u's neighborhood including u itself
        mins = e.groupBy("u").agg(F.min("v").alias("_mv"))
        mins = mins.select("u", F.least(F.col("_mv"), F.col("u")).alias("m"))
        return e.join(mins, "u")

    cur = (
        edges.select(
            F.greatest(F.col("id_a"), F.col("id_b")).alias("u"),
            F.least(F.col("id_a"), F.col("id_b")).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    converged = False
    for _ in range(max_iter):
        # large-star over the symmetric neighborhood
        sym = cur.union(cur.select(F.col("v").alias("u"), F.col("u").alias("v")))
        large = (
            _with_min(sym)
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        # small-star over edges directed at the smaller endpoint
        toward_small = large.filter(F.col("u") != F.col("v")).select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        wm = _with_min(toward_small)
        small = wm.select(F.col("v").alias("u"), F.col("m").alias("v")).union(
            wm.select("u", F.col("m").alias("v"))
        )
        nxt = (
            small.filter(F.col("u") != F.col("v")).distinct().localCheckpoint(eager=True)
        )
        # fixed point: identical edge sets (both are deduped canonical
        # pairs); symmetric difference probed in ONE job, not two
        delta = (
            nxt.exceptAll(cur).union(cur.exceptAll(nxt)).limit(1).count()
        )
        cur = nxt
        if delta == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"connected_components_star did not converge in max_iter={max_iter} "
            "rounds — max_iter must exceed ~log²(n) alternation rounds"
        )
    labels = cur.groupBy("u").agg(F.min("v").alias("component"))
    return (
        nodes.select(F.col(id_col).alias("u"))
        .join(labels, "u", "left")
        .select(
            F.col("u").alias(id_col),
            F.coalesce("component", F.col("u")).alias("component"),
        )
    )


def neardup_components(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    shingle_n: int = 3,
    max_posting_size: int | None = None,
    algorithm: str = "propagation",
) -> DataFrame:
    """(id, component, component_size) over the exact n-gram-Jaccard
    near-duplicate graph — the end-to-end 'collapse near-dups' operator a
    training pipeline runs: docs in the same component are mutual
    near-duplicates (transitively), and ``component`` (min doc id) is the
    canonical survivor.

    ``algorithm``: 'propagation' (min-label, diameter rounds — right for
    clique-like dup graphs) or 'star' (large-star/small-star, O(log² n)
    rounds on any diameter — the safe choice when chained boilerplate can
    string documents into long paths)."""
    pairs = ngram_jaccard_pairs(
        df, text_col, id_col, threshold=threshold, shingle_n=shingle_n,
        max_posting_size=max_posting_size,
    )
    if algorithm == "star":
        comp = connected_components_star(pairs, df.select(id_col))
    elif algorithm == "propagation":
        comp = connected_components(pairs, df.select(id_col))
    else:
        raise ValueError(f"algorithm must be 'propagation' or 'star', got {algorithm!r}")
    # Size attach as a window count over the label frame: one exchange on
    # component instead of the aggregate + join-back pair (two exchanges,
    # three stages) — identical values, and the window needs no ordering
    # so there is no sort beyond the exchange (guide §2.4: two operations
    # keyed the same way share one exchange).
    from pyspark.sql import Window as _W

    return comp.select(
        id_col,
        "component",
        F.count("*").over(_W.partitionBy("component")).alias("component_size"),
    )


def embedding_neardup_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.45,
    bits: int = 6,
    tables: int = 8,
    seed: int = 11,
    exact: bool = False,
    dim: int | None = None,
) -> DataFrame:
    """Embedding near-duplicates: pairs with cosine ≥ threshold.

    Default (scale path): sign-LSH candidate generation — an equi-join on
    (table, bucket) over ``tables`` independent hyperplane tables
    (similarity.lsh_candidate_pairs) — followed by exact cosine verification
    on the candidates only.  Recall at production near-dup thresholds
    (cosine ≥ 0.9) is ≈ 1 − (1 − p^bits)^tables with p = 1 − θ/π ≈ 0.98 for
    the defaults; tests/test_similarity.py measures it against brute force.

    ``exact=True`` switches to the O(N²/2) brute-force pair join — complete
    but quadratic, only for corpora that fit a single executor's batch.
    """
    from .similarity import lsh_candidate_pairs, norm, paired_cosine

    a = df.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).cast("array<double>").alias("va")
    ).withColumn("na", norm(F.col("va")))
    b = df.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).cast("array<double>").alias("vb")
    ).withColumn("nb", norm(F.col("vb")))
    if exact:
        pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    else:
        cand = lsh_candidate_pairs(
            df, vec_col, id_col, bits=bits, tables=tables, seed=seed, dim=dim
        )
        pairs = cand.join(a, "id_a").join(b, "id_b")
    return (
        pairs.withColumn(
            "cosine",
            F.round(paired_cosine(F.col("va"), F.col("vb"), F.col("na"), F.col("nb")), 6),
        )
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def query_corpus_lsh_candidates(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    bits: int = 6,
    tables: int = 8,
    seed: int = 11,
    dim: int | None = None,
    distinct_ids: bool = True,
) -> DataFrame:
    """Distinct (query_id, neighbor_id) sign-LSH collision candidates
    between a bounded query relation and a corpus — the candidate-generation
    block shared by ``query_corpus_neardup_pairs`` and
    ``selection.hard_negatives``.  A broadcast equi-join of the query
    buckets against the corpus buckets: work is ~|Q|·tables/2^bits of the
    corpus scan, never a corpus-wide self-join, and the result is bounded
    by |Q|·tables·max-bucket-occupancy (broadcastable downstream).

    ``distinct_ids=True`` (the within-one-relation default, where equal ids
    mean the same row) drops same-id collisions; pass ``False`` when the
    query ids live in a DIFFERENT id space than the corpus, where an equal
    id is a coincidence and the pair is a real candidate."""
    from .similarity import hyperplane_tables, lsh_bucket_frame, _vector_dim

    dim = dim if dim is not None else _vector_dim(corpus, vec_col)
    planes_by_table = hyperplane_tables(dim, bits, tables, seed)
    cb = lsh_bucket_frame(
        corpus, F.col(id_col), F.col(vec_col).cast("array<double>"), planes_by_table,
        "neighbor_id",
    )
    qb = lsh_bucket_frame(
        queries, F.col(id_col), F.col(vec_col).cast("array<double>"), planes_by_table,
        "query_id",
    )
    cand = cb.join(F.broadcast(qb), ["tbl", "bucket"])
    if distinct_ids:
        cand = cand.filter(F.col("query_id") != F.col("neighbor_id"))
    return cand.select("query_id", "neighbor_id").dropDuplicates(
        ["query_id", "neighbor_id"]
    )


def query_corpus_neardup_pairs(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.45,
    bits: int = 6,
    tables: int = 8,
    seed: int = 11,
    dim: int | None = None,
    distinct_ids: bool = True,
) -> DataFrame:
    """Near-duplicate (query_id, neighbor_id, cosine) pairs BETWEEN a query
    relation and a corpus — the two-sided form of ``embedding_neardup_pairs``
    for callers (hard-negative mining, contamination screens) that only need
    duplicates touching a bounded query set, possibly from a different
    relation or id space (pass ``distinct_ids=False`` there — with foreign
    query ids an id collision is a coincidence, not a self-pair, and the
    default same-id filter would hide a true duplicate).

    Same hyperplanes/threshold as the self-join form (identical ``bits``/
    ``tables``/``seed`` → identical buckets), so "near-duplicate" keeps one
    definition across cleaning and mining.  Candidate generation is a
    broadcast equi-join of the query buckets against the corpus buckets —
    work is ~|Q|·tables/2^bits of the corpus scan, NOT the corpus-wide
    self-join; exact cosine verification runs on those candidates only, with
    the bounded candidate set BROADCAST against the corpus vector projection
    (the corpus never hash-shuffles — candidates hash-probe it in place).
    """
    from .similarity import norm, paired_cosine

    cand = query_corpus_lsh_candidates(
        corpus, queries, vec_col, id_col, bits=bits, tables=tables, seed=seed,
        dim=dim, distinct_ids=distinct_ids,
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"),
    ).withColumn("qn", norm(F.col("qv")))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("cv"),
    ).withColumn("cn", norm(F.col("cv")))
    return (
        c.join(F.broadcast(cand), "neighbor_id")
        .join(F.broadcast(q), "query_id")
        .withColumn(
            "cosine",
            F.round(paired_cosine(F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn")), 6),
        )
        .filter(F.col("cosine") >= threshold)
        .select("query_id", "neighbor_id", "cosine")
    )


def dedup_span_clean(
    df: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_docs: int = 2,
) -> DataFrame:
    """Cross-document duplicated-SPAN removal: delete every token covered by
    a word ``n``-gram that occurs in at least ``min_docs`` distinct
    documents, and rebuild the cleaned text.  This is the span-granularity
    step of substring dedup (Lee et al. 2022, "Deduplicating Training Data
    Makes Language Models Better") — where ``dup_ngram_fraction`` only
    MEASURES the overlap, this operator produces the cleaned corpus.

    Output: (``id_col``, n_tokens, n_removed, clean_text) — one row per
    input document.  ``clean_text`` is the surviving tokens joined by
    single spaces (i.e. whitespace-normalized even for untouched
    documents — the transform is uniform, not conditional).  Documents
    shorter than ``n`` tokens contribute no grams and are never cleaned,
    the same minimum-length floor the paper applies.

    Plan: stage tokens once (persisted — the relation feeds both the gram
    pass and the final rebuild); positional grams via one transform +
    posexplode; gram document-frequency is one shuffle on the portable
    60-bit hash (the gram STRING never shuffles); duplicated occurrences
    come back via an equi-join on that hash (AQE handles hot-gram skew);
    covered positions explode each hit into n thin (doc, pos) rows and
    deduplicate; the rebuild joins the per-doc sorted position list back to
    the staged tokens and filters by index.  Everything is linear in corpus
    token count × n — no pairwise comparisons anywhere.  The per-token
    ``array_contains`` in the rebuild is O(|covered|) per position, bounded
    by document length, not corpus size."""
    from .hashing import h60

    toks = persist(df.select(F.col(id_col), tokens(F.col(text_col)).alias("_toks")))
    pos_grams = F.when(
        F.size("_toks") >= n,
        F.transform(
            F.sequence(F.lit(0), F.size("_toks") - n),
            lambda i: F.concat_ws(" ", *[F.get("_toks", i + j) for j in range(n)]),
        ),
    ).otherwise(F.array().cast("array<string>"))
    occ = persist(
        toks.select(id_col, F.posexplode(pos_grams).alias("_pos", "_g"))
        .select(id_col, "_pos", h60(F.col("_g")).alias("_gh"))
    )
    dup = (
        occ.groupBy("_gh")
        .agg(F.count_distinct(F.col(id_col)).alias("_df"))
        .filter(F.col("_df") >= min_docs)
        .select("_gh")
    )
    covered = (
        occ.join(dup, on="_gh")
        .select(
            id_col,
            F.explode(
                F.sequence(F.col("_pos") + 1, F.col("_pos") + n)
            ).alias("_p"),
        )
        .distinct()
        .groupBy(id_col)
        .agg(F.sort_array(F.collect_set("_p")).alias("_ps"))
    )
    kept_toks = F.when(F.col("_ps").isNull(), F.col("_toks")).otherwise(
        F.filter(
            F.transform(
                F.sequence(F.lit(1), F.size("_toks")),
                lambda i: F.when(
                    ~F.array_contains("_ps", i), F.element_at("_toks", i)
                ),
            ),
            lambda t: t.isNotNull(),
        )
    )
    return toks.join(covered, on=id_col, how="left").select(
        id_col,
        F.size("_toks").cast("long").alias("n_tokens"),
        F.when(F.col("_ps").isNull(), F.lit(0))
        .otherwise(F.size("_ps"))
        .cast("long")
        .alias("n_removed"),
        F.concat_ws(" ", kept_toks).alias("clean_text"),
    )


def dedup_against_history(
    new_df: DataFrame,
    history_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Incremental exact dedup — the nightly-batch verb: drop rows of
    ``new_df`` whose text already exists in ``history_df`` (everything
    already trained on), then keep-first WITHIN the batch, so the output
    can be appended to history without ever creating a duplicate.

    100 TB shape: history is the big side and is never shuffled.  The
    batch's distinct fingerprints broadcast into a left-semi pass over
    history (ONE scan of history, broadcast hash join); the resulting
    collision set is bounded by the batch's distinct-count and broadcasts
    back as an anti-join on the batch.  Both broadcasts are batch-sized.
    If even the batch outgrows the broadcast threshold, swap the semi-join
    for a bloom prefilter over history plus a shuffled confirm on the
    (tiny) collision slice — same result, since bloom filters have no
    false negatives and the confirm join removes the false positives.

    Output: (id_col, text_hash) of the surviving batch rows, min-id per
    distinct batch text (same keeper rule as ``dedup_keep_first``).
    """
    fp = F.md5(F.col(text_col).cast("string")).alias("text_hash")
    batch = new_df.select(F.col(id_col), fp)
    hist_hits = (
        history_df.select(fp)
        .join(F.broadcast(batch.select("text_hash").distinct()), "text_hash", "left_semi")
        .distinct()
    )
    fresh = batch.join(F.broadcast(hist_hits), "text_hash", "left_anti")
    return (
        fresh.groupBy("text_hash")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col, "text_hash")
    )


def neardup_against_history(
    new_df: DataFrame,
    history_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    seed: int = 7,
) -> DataFrame:
    """Incremental NEAR-dup screen: for each batch doc, the earliest
    history document whose verified Jaccard ≥ ``threshold`` (candidates
    via the same MinHash-LSH banding as ``minhash_lsh_pairs``, so the two
    operators flag consistently).  Batch docs with no history near-dup are
    absent from the output — an anti-join against it is the keep set.

    100 TB shape: history never shuffles.  Its banded keys are a
    projection of the signature relation (at production scale, persist
    them once next to the corpus — the same encode-once discipline as the
    IVFADC codes parquet); the batch's banded keys BROADCAST into one
    equi-join scan of history bands.  Candidate pairs carry only ids
    through the join — shingle arrays are fetched per side afterwards,
    history's via a second broadcast (candidate ids) hash join, so the
    exact-Jaccard verify touches |candidates| history rows, not history.

    Output: (id_col, dup_of, n_matches, best_jaccard) — dup_of = min
    matching history id, n_matches = verified match count, best_jaccard =
    max verified Jaccard (audit column), rounded to 6 dp before the
    threshold compare so engine-side last-ulp sums cannot flip it.
    """
    sig_b = persist(
        _minhash_staged(new_df, text_col, id_col, num_hashes, shingle_n, seed)
    )
    sig_h = persist(
        _minhash_staged(history_df, text_col, id_col, num_hashes, shingle_n, seed)
    )

    def banded(sigs: DataFrame, out_id: str) -> DataFrame:
        return sigs.select(
            F.col("_id").alias(out_id),
            minhash_band_struct(F.col("sig"), num_hashes, bands).alias("bk"),
        ).select(out_id, F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))

    cand = (
        banded(sig_h, "hid")
        .join(F.broadcast(banded(sig_b, "bid")), ["band", "key"])
        .select("bid", "hid")
        .dropDuplicates(["bid", "hid"])
    )
    sh_h = sig_h.select(F.col("_id").alias("hid"), F.col("shingles").alias("sh_h"))
    sh_b = sig_b.select(F.col("_id").alias("bid"), F.col("shingles").alias("sh_b"))
    verified = (
        sh_h.join(F.broadcast(cand), "hid")
        .join(F.broadcast(sh_b), "bid")
        .withColumn("jaccard", F.round(jaccard(F.col("sh_h"), F.col("sh_b")), 6))
        .filter(F.col("jaccard") >= threshold)
    )
    return (
        verified.groupBy("bid")
        .agg(
            F.min("hid").alias("dup_of"),
            F.count("*").alias("n_matches"),
            F.max("jaccard").alias("best_jaccard"),
        )
        .select(F.col("bid").alias(id_col), "dup_of", "n_matches", "best_jaccard")
    )


def neardup_threshold_sweep(
    df: DataFrame,
    thresholds: tuple[float, ...] = (0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9),
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
) -> DataFrame:
    """Threshold-sensitivity sweep for the near-dup verify cut — the
    diagnostic a corpus team runs BEFORE picking the dedup threshold: for
    each candidate threshold, how many pairs would be flagged and how many
    documents those pairs touch.  Candidate generation (the inverted-index
    join) is threshold-independent; only the verify cut moves, so the whole
    sweep costs ONE pair computation at the loosest threshold plus a
    per-threshold aggregate over the (small) surviving pair set.

    Output: (threshold, n_pairs, n_docs) — one row per threshold in the
    grid, zeros kept (a threshold that flags nothing is exactly the signal
    the sweep exists to show).

    Scale shape: the expensive relation (pairs at min(thresholds)) is the
    same inverted-index equi-join as ngram_jaccard_pairs — linear postings,
    no cartesian; the grid explode multiplies only the FLAGGED pairs
    (|pairs| × |grid| thin rows), never the corpus."""
    grid = sorted(float(t) for t in thresholds)
    pairs = ngram_jaccard_pairs(
        df,
        text_col=text_col,
        id_col=id_col,
        threshold=grid[0],
        shingle_n=shingle_n,
    )
    ex = persist(
        pairs.select(
            F.explode(F.array(*[F.lit(t) for t in grid])).alias("threshold"),
            "id_a",
            "id_b",
            "jaccard",
        ).filter(F.col("jaccard") >= F.col("threshold"))
    )
    n_pairs = ex.groupBy("threshold").agg(F.count("*").alias("n_pairs"))
    n_docs = (
        ex.select(
            "threshold", F.explode(F.array("id_a", "id_b")).alias("_doc")
        )
        .distinct()
        .groupBy("threshold")
        .agg(F.count("*").alias("n_docs"))
    )
    base = df.sparkSession.createDataFrame(
        [(t,) for t in grid], "threshold double"
    )
    out = (
        base.join(n_pairs, "threshold", "left")
        .join(n_docs, "threshold", "left")
        .select(
            "threshold",
            F.coalesce(F.col("n_pairs"), F.lit(0)).cast("long").alias("n_pairs"),
            F.coalesce(F.col("n_docs"), F.lit(0)).cast("long").alias("n_docs"),
        )
    )
    return out


def source_overlap_matrix(
    df: DataFrame,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
    shingle_n: int = 3,
) -> DataFrame:
    """Which sources copy from each other: the near-dup pair graph rolled
    up to (source, source) cells — the provenance diagnostic behind
    domain-level dedup decisions (mirror domains, syndicated boilerplate,
    scraper-of-scraper chains show up as hot off-diagonal cells).

    Output: (src_a, src_b, n_pairs) with src_a <= src_b (unordered cell),
    one row per source pair that shares at least one near-dup pair.

    Scale shape: the pair relation is the inverted-index equi-join of
    ngram_jaccard_pairs; the two provenance attaches join a 2-column
    (id, source) projection — never the text — and the final rollup
    aggregates |pairs| thin rows."""
    pairs = ngram_jaccard_pairs(
        df,
        text_col=text_col,
        id_col=id_col,
        threshold=threshold,
        shingle_n=shingle_n,
    )
    src = df.select(F.col(id_col), F.col(source_col))
    a = src.select(
        F.col(id_col).alias("id_a"), F.col(source_col).alias("_sa")
    )
    b = src.select(
        F.col(id_col).alias("id_b"), F.col(source_col).alias("_sb")
    )
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .select(
            F.least("_sa", "_sb").alias("src_a"),
            F.greatest("_sa", "_sb").alias("src_b"),
        )
        .groupBy("src_a", "src_b")
        .agg(F.count("*").alias("n_pairs"))
    )


def component_size_histogram(components: DataFrame) -> DataFrame:
    """Cluster-size histogram over a (id, component, component_size)
    near-dup components relation — the shape report a dedup run publishes
    BEFORE deleting anything: how many singletons (untouched docs), how
    many pairs, and whether a mega-cluster exists (chained boilerplate —
    the signal to re-check the threshold or switch to the star CC
    algorithm before a 100 TB collapse acts on a bad graph).

    Output: (component_size, n_components, n_docs, doc_share) — one row
    per distinct size; n_docs = size·n_components by construction, checked
    here rather than assumed; doc_share = n_docs / corpus, one exactly
    rounded division per row.

    Scale shape: ONE aggregate over the already-computed components
    relation keyed by its (bounded-cardinality) size column, plus a
    broadcast 1-row total — nothing corpus-sized shuffles beyond the
    upstream CC pass itself."""
    counts = components.groupBy("component_size").agg(
        F.countDistinct("component").alias("n_components"),
        F.count("*").alias("n_docs"),
    )
    total = components.select(F.count("*").alias("_total"))
    return (
        counts.join(F.broadcast(total))
        .select(
            F.col("component_size").cast("long").alias("component_size"),
            F.col("n_components").cast("long").alias("n_components"),
            F.col("n_docs").cast("long").alias("n_docs"),
            F.round(F.col("n_docs") / F.col("_total"), 6).alias("doc_share"),
        )
    )


def minhash_estimate_report(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    seed: int = 7,
    max_band_size: int | None = 1000,
) -> DataFrame:
    """Estimator-calibration audit for the MinHash dedup tier — the
    signature-family parallel of the ANN recall reports: for every banded
    candidate pair, the Broder (1997) signature-agreement ESTIMATE of
    Jaccard next to the EXACT shingle Jaccard and their signed error.
    This is the relation that justifies (or indicts) num_hashes: a 16-hash
    signature estimates at ±1/16 granularity, and band-selected candidates
    are biased HIGH (they were selected for agreeing on ≥ 1 band) — the
    audit shows both effects on real data before anyone trusts the
    estimate as a dedup threshold.

    Output: (id_a, id_b, est_sim, exact_jaccard, err) — one row per
    candidate pair (NO similarity threshold: the noisy low-sim candidates
    are exactly the calibration-relevant ones); err computed from the two
    6-dp-rounded values so it is bit-identical across engines.

    Scale shape: identical candidate generation to minhash_lsh_pairs
    (banded equi-join, hot-band cap, heavy arrays fetched by id AFTER
    candidate dedup); the estimate adds one zip_with fold over two
    16-element arrays per candidate."""
    sigs = persist(_minhash_staged(df, text_col, id_col, num_hashes, shingle_n, seed))
    banded = sigs.select(
        "_id", minhash_band_struct(F.col("sig"), num_hashes, bands).alias("bk")
    ).select("_id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    if max_band_size is not None:
        sizes = (
            banded.groupBy("band", "key")
            .count()
            .filter(F.col("count") <= max_band_size)
        )
        banded = banded.join(sizes.select("band", "key"), ["band", "key"], "left_semi")
    left = banded.select("band", "key", F.col("_id").alias("id_a"))
    right = banded.select("band", "key", F.col("_id").alias("id_b"))
    candidates = (
        left.join(right, ["band", "key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    a = sigs.select(
        F.col("_id").alias("id_a"), F.col("sig").alias("sig_a"),
        F.col("shingles").alias("sh_a"),
    )
    b = sigs.select(
        F.col("_id").alias("id_b"), F.col("sig").alias("sig_b"),
        F.col("shingles").alias("sh_b"),
    )
    matches = F.aggregate(
        F.zip_with(
            F.col("sig_a"), F.col("sig_b"),
            lambda x, y: F.when(x == y, 1).otherwise(0),
        ),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    return (
        candidates.join(a, "id_a")
        .join(b, "id_b")
        .withColumn(
            "est_sim", F.round(matches.cast("double") / num_hashes, 6)
        )
        .withColumn(
            "exact_jaccard", F.round(jaccard(F.col("sh_a"), F.col("sh_b")), 6)
        )
        .select(
            "id_a",
            "id_b",
            "est_sim",
            "exact_jaccard",
            F.round(F.col("est_sim") - F.col("exact_jaccard"), 6).alias("err"),
        )
    )


def paragraph_dedup_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_copies: int = 2,
) -> DataFrame:
    """Paragraph-grain duplicate audit — the CCNet/RefinedWeb cleaning tier
    BELOW document dedup: boilerplate (navigation chrome, license footers,
    cookie banners) repeats across millions of otherwise-distinct pages,
    so production pipelines drop duplicated PARAGRAPHS while keeping the
    documents.  Per document: how many paragraphs it has, how many are
    shared (appear in >= ``min_copies`` distinct documents), and how many
    characters survive paragraph-level cleaning.

    Output: (``id_col``, n_paras, n_dup_paras, kept_chars) — kept_chars
    counts every OCCURRENCE of a surviving paragraph (separators
    excluded): cleaning removes only cross-document boilerplate, so a
    paragraph repeated within one document (below the ``min_copies``
    distinct-doc bar) keeps all its copies, and the count is the true
    post-cleaning size a packing budget would see
    (tests/test_staged_r12_verbs.py pins the within-doc-repeat case).

    Scale shape: paragraph TEXT never leaves the scan stage — the explode
    projects straight down to (id, md5(paragraph), length(paragraph)),
    and that thin relation is persisted so the duplicate count and the
    flag join both read it without a second pass over the corpus; every
    shuffle carries the 32-char key + two ints.  Both joins are plain hash
    equi-joins; no window over the corpus.  (The r12 plan audit caught the
    first cut shuffling full paragraph text through the flag join and
    scanning the corpus twice — this shape is the fix, asserted in
    tests/test_plans.py.)"""
    para = F.explode(F.split(F.col(text_col), "\n\n")).alias("para")
    thin = persist(
        df.select(id_col, para)
        .filter(F.length(F.trim(F.col("para"))) > 0)
        .select(
            id_col,
            F.md5(F.col("para")).alias("_k"),
            F.length("para").alias("_plen"),
        )
    )
    counts = thin.groupBy("_k").agg(
        F.countDistinct(id_col).alias("_n_docs")
    )
    flagged = thin.join(counts, "_k").withColumn(
        "_dup", F.col("_n_docs") >= min_copies
    )
    return flagged.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_paras"),
        F.sum(F.col("_dup").cast("long")).alias("n_dup_paras"),
        F.sum(
            F.when(~F.col("_dup"), F.col("_plen")).otherwise(F.lit(0))
        ).cast("long").alias("kept_chars"),
    )
