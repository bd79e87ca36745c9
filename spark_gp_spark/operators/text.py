"""Text analysis operators: tokenization, quality scoring, language ID,
document fingerprinting.

Everything here is pure column expressions (`pyspark.sql.functions`) — the
whole pipeline stays inside whole-stage codegen, shuffles nothing, and scales
to 100 TB as a single pass over the parquet scan.  No reference counterpart
(the reference is a GP library); these are the north-star extension operators
(BASELINE.json) built on the same engine.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .cache import persist

# Tiny per-language stopword inventories for the n-gram/stopword heuristic.
# Deliberately small so the DuckDB oracle can restate them inline.
STOPWORDS = {
    "en": ["the", "a", "and", "of", "to", "in", "is", "for", "on", "with"],
    "de": ["der", "die", "das", "und", "ist", "von", "mit", "auf", "für", "ein"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "por", "con", "para"],
    "fr": ["le", "la", "de", "et", "un", "une", "dans", "pour", "sur", "avec"],
}


def tokens(text: Column) -> Column:
    """Whitespace tokens of lowercased text, empty strings dropped."""
    return F.filter(F.split(F.lower(text), r"\s+"), lambda t: t != F.lit(""))


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


#: BPE-style pre-tokenization classes (letter runs / digit runs / single
#: non-space symbols) — the regex split GPT-2-family tokenizers apply before
#: merges.  Kept to character classes that Java and RE2-style engines treat
#: identically so the DuckDB oracle matches.
BPE_TOKEN_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def bpe_token_count(text: Column) -> Column:
    """Pre-merge BPE token count: a cheap, deterministic proxy for LLM token
    budgeting (letter runs + digit runs + individual symbols).  Actual BPE
    merges only ever reduce this count, so it is a stable upper bound."""
    return F.size(F.regexp_extract_all(text, F.lit(BPE_TOKEN_PATTERN), 0))


def char_ngrams(text: Column, n: int = 3) -> Column:
    """Distinct lowercase character n-grams (the shingle set for MinHash)."""
    lowered = F.lower(text)
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.length(lowered) - (n - 1), F.lit(1))),
            lambda i: F.substring(lowered, i, n),
        )
    )


def word_ngrams_of(toks: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of a TOKEN ARRAY column.

    Feed this a STAGED column (a projection that already materialized
    ``tokens(text)``), not the ``tokens(...)`` expression itself: the lambda
    references ``toks`` n times per output element, so an inlined tokenizer
    would be re-evaluated O(n·n_tokens) times per row — the Catalyst
    re-inlining trap that made the unstaged pipeline ~5× slower."""
    return F.array_distinct(word_ngrams_all_of(toks, n))


def word_ngrams(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles joined by single spaces.

    Column-expression form for ad-hoc use; full-table pipelines should stage
    ``tokens(text)`` as a column and call ``word_ngrams_of`` (see there)."""
    return word_ngrams_of(tokens(text), n)


def stopword_hits(text: Column, lang: str) -> Column:
    """Number of tokens that are stopwords of ``lang`` (with multiplicity)."""
    words = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    return F.size(F.filter(tokens(text), lambda t: F.array_contains(words, t)))


def language_scores(text: Column) -> dict[str, Column]:
    return {lang: stopword_hits(text, lang) for lang in STOPWORDS}


def language_id(text: Column) -> Column:
    """Argmax of per-language stopword counts; CJK characters short-circuit to
    'zh'; no hits at all → 'und'.  Ties break in fixed lang order."""
    scores = language_scores(text)
    cjk = F.length(F.regexp_replace(text, r"[^一-鿿]", "")) > 0
    best = F.greatest(*scores.values())
    expr = F.lit("und")
    # reversed so earlier languages win ties via later WHEN precedence
    for lang in reversed(list(scores)):
        expr = F.when(scores[lang] == best, F.lit(lang)).otherwise(expr)
    expr = F.when(best == 0, F.lit("und")).otherwise(expr)
    return F.when(cjk, F.lit("zh")).otherwise(expr)


def alpha_ratio(text: Column) -> Column:
    """Fraction of characters that are ASCII letters or spaces."""
    kept = F.length(F.regexp_replace(text, r"[^A-Za-z ]", ""))
    return kept / F.greatest(F.length(text), F.lit(1))


def mean_word_length(text: Column) -> Column:
    toks = tokens(text)
    total = F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
    return total.cast("double") / F.greatest(F.size(toks), F.lit(1))


def quality_score(text: Column) -> Column:
    """Composite [0,1] quality heuristic: length band + alpha ratio + mean
    word length band + English stopword presence.  The exact formula is
    arbitrary but fixed — the oracle restates it verbatim."""
    n_tok = token_count(text)
    len_ok = (n_tok >= 5) & (n_tok <= 5000)
    mwl = mean_word_length(text)
    mwl_ok = (mwl >= 2.0) & (mwl <= 12.0)
    sw_ratio = stopword_hits(text, "en").cast("double") / F.greatest(n_tok, F.lit(1))
    return (
        F.when(len_ok, 0.25).otherwise(0.0)
        + F.when(mwl_ok, 0.25).otherwise(0.0)
        + alpha_ratio(text) * 0.25
        + F.least(sw_ratio * F.lit(2.5), F.lit(1.0)) * 0.25
    )


def doc_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    window: int = 4,
    seed: int = 7,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer et al., SIGMOD 2003): hash
    every POSITIONAL word k-gram (order preserved, duplicates kept — unlike
    the MinHash shingle set), slide a ``window`` over the hash sequence and
    keep each window's minimum; the sorted distinct minima are the
    fingerprint.  Guarantees any shared run of ``k + window − 1`` tokens
    between two documents shares a fingerprint value.

    Each intermediate array (tokens → grams → hashes → window minima) is
    MATERIALIZED as a column in its own projection.  Folding the pipeline
    into one nested expression re-evaluates the producer array on every
    element access — O(tokens²·window) md5 chains per document; measured
    46.5 s → 0.3 s at sf0.1 for the staged form.  No shuffle, no Python.
    """
    from .hashing import h32

    t = F.col(text_col)
    staged = df.select(F.col(id_col), tokens(t).alias("_toks"))
    staged = staged.select(
        id_col,
        F.transform(
            F.sequence(F.lit(0), F.greatest(F.size("_toks") - k, F.lit(0))),
            # F.get: NULL (not an ANSI error) past the end — short docs keep
            # the partial tail gram, same as word_ngrams_of
            lambda i: F.concat_ws(
                " ", *[F.get(F.col("_toks"), i + j) for j in range(k)]
            ),
        ).alias("_grams"),
    )
    # seed-salted so fingerprints are decorrelated from the MinHash family
    staged = staged.select(
        id_col,
        F.transform(
            "_grams", lambda g: h32(F.concat(F.lit(f"fp{seed}_"), g))
        ).alias("_h"),
    )
    return staged.select(
        id_col,
        F.array_sort(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.greatest(F.size("_h") - (window - 1), F.lit(1))),
                    # least() over w direct element accesses — no per-position
                    # slice allocation; NULL tail elements (F.get past the
                    # end, ANSI-safe) are skipped, matching list_min over a
                    # truncated slice in the oracle
                    lambda i: F.least(*[F.get(F.col("_h"), i + j - 1) for j in range(window)]),
                )
            )
        ).alias("fingerprint"),
    )


def text_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    include_sw_ratio: bool = False,
) -> DataFrame:
    """Per-document stats relation: two codegen'd projections, no shuffle.

    The token array is tokenized ONCE into a staged column; the naive
    single-projection form re-runs the split for every stat that consumes
    tokens (~6× per row).  Values are identical to the Column-form helpers.

    ``include_sw_ratio`` appends the UNROUNDED English stopword ratio
    (sw_en / max(n_tokens, 1)) — the quality expression already computes
    sw_en, so consumers that need the ratio as a model feature (the GPC
    capstone) get it from this same staged projection instead of
    re-tokenizing the corpus and shuffling a doc_id join to attach it
    (measured: the capstone's features span drops ~25% and loses its only
    corpus-wide join).
    """
    t = F.col(text_col)
    staged = df.select(F.col(id_col), t.alias("_text"), tokens(t).alias("_toks"))
    txt, toks = F.col("_text"), F.col("_toks")
    n_tok = F.size(toks)
    mwl = (
        F.aggregate(toks, F.lit(0), lambda acc, w: acc + F.length(w)).cast("double")
        / F.greatest(n_tok, F.lit(1))
    )
    def _sw_count(lang: str) -> Column:
        ws = F.array(*[F.lit(s) for s in STOPWORDS[lang]])
        return F.size(F.filter(toks, lambda w: F.array_contains(ws, w)))

    sw = {lang: _sw_count(lang) for lang in STOPWORDS}
    alpha = F.length(F.regexp_replace(txt, r"[^A-Za-z ]", "")) / F.greatest(
        F.length(txt), F.lit(1)
    )
    quality = (
        F.when((n_tok >= 5) & (n_tok <= 5000), 0.25).otherwise(0.0)
        + F.when((mwl >= 2.0) & (mwl <= 12.0), 0.25).otherwise(0.0)
        + alpha * 0.25
        + F.least(sw["en"].cast("double") / F.greatest(n_tok, F.lit(1)) * F.lit(2.5), F.lit(1.0))
        * 0.25
    )
    cjk = F.length(F.regexp_replace(txt, r"[^一-鿿]", "")) > 0
    best = F.greatest(*sw.values())
    lang_expr = F.lit("und")
    for lang in reversed(list(sw)):
        lang_expr = F.when(sw[lang] == best, F.lit(lang)).otherwise(lang_expr)
    lang_expr = F.when(best == 0, F.lit("und")).otherwise(lang_expr)
    lang_expr = F.when(cjk, F.lit("zh")).otherwise(lang_expr)
    out_cols = [
        F.col(id_col),
        F.length(txt).alias("n_chars"),
        n_tok.alias("n_tokens"),
        F.round(mwl, 6).alias("mean_word_len"),
        F.round(alpha, 6).alias("alpha_ratio"),
        F.round(quality, 6).alias("quality"),
        lang_expr.alias("lang_pred"),
    ]
    if include_sw_ratio:
        out_cols.append(
            (sw["en"].cast("double") / F.greatest(n_tok, F.lit(1))).alias(
                "sw_ratio"
            )
        )
    return staged.select(*out_cols)


def token_cooccurrence_pmi(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_pair_docs: int = 5,
    min_df: int = 2,
    max_df: int | None = None,
    max_df_frac: float | None = None,
) -> DataFrame:
    """Co-occurring token pairs ranked by pointwise mutual information — the
    phrase-mining / collocation operator of an LLM corpus pipeline.

    ``pmi(a, b) = ln( co(a, b) · N / (df(a) · df(b)) )`` over document-level
    co-occurrence of DISTINCT tokens; output (tok_a < tok_b, co_docs, pmi).

    Plan shape (the posting-list discipline shared with ngram_jaccard):
    tokens staged once and exploded to a (doc, token) posting frame; ``min_df``
    drops hapax noise and ``max_df`` drops stopword-grade tokens BEFORE the
    self-join — the hot-token guard: a token present in every document would
    otherwise contribute O(N²) pair rows, exactly like a hot shingle.  The
    per-document pair generation is an equi-join on the doc id; document
    frequencies re-join on the pair counts (two thin shuffles).  N rides a
    broadcast single-row cross join — the operator stays fully lazy (no
    Spark job at plan-construction time), mirroring the oracle's
    ``CROSS JOIN n``.

    ``max_df`` is an absolute document-count cap; ``max_df_frac`` is the
    scale-portable RELATIVE form (df ≤ frac·N, the standard collocation
    stop-list rule) — an absolute cap tuned at one corpus size silently
    degenerates at another (a cap below the corpus's common-token df
    empties the output; far above it, it stops guarding).  The fraction
    attaches via the same broadcast 1-row N frame, keeping the operator
    lazy.
    """
    toks = df.select(F.col(id_col).alias("_id"), tokens(F.col(text_col)).alias("_t"))
    post = toks.select("_id", F.explode(F.array_distinct("_t")).alias("tok"))
    n_docs = df.agg(F.count("*").alias("_n"))
    dfreq = post.groupBy("tok").agg(F.count("*").alias("df")).filter(
        F.col("df") >= min_df
    )
    if max_df is not None:
        dfreq = dfreq.filter(F.col("df") <= max_df)
    if max_df_frac is not None:
        # N attaches via the broadcast 1-row cross join (cardinality
        # |dfreq| × 1 — a scalar attach); _n rides dfreq into da below so
        # the final PMI expression needs no second attach.  dfreq feeds
        # three consumers, so the physical plan replicates this subtree —
        # several 1-row BroadcastNestedLoopJoins, not a pair explosion
        # (the plan suite verifies every BNLJ's build side is the 1-row count)
        dfreq = dfreq.crossJoin(F.broadcast(n_docs)).filter(
            F.col("df") <= F.col("_n") * F.lit(float(max_df_frac))
        )
    # dfreq feeds three consumers (the semi-join and both PMI df attaches)
    # and kept feeds both sides of the pair self-join — uncached, the
    # tokenize + explode + df-aggregate chain re-evaluates ~5× (the pre-fix
    # plan carried 56 Exchange / 20 scan references).  Persist both thin
    # relations once.
    dfreq = persist(dfreq)
    kept = persist(post.join(dfreq.select("tok"), "tok", "left_semi"))
    a = kept.select("_id", F.col("tok").alias("tok_a"))
    b = kept.select("_id", F.col("tok").alias("tok_b"))
    co = (
        a.join(b, "_id")
        .filter(F.col("tok_a") < F.col("tok_b"))
        .groupBy("tok_a", "tok_b")
        .agg(F.count("*").alias("co_docs"))
        .filter(F.col("co_docs") >= min_pair_docs)
    )
    da = dfreq.select(
        F.col("tok").alias("tok_a"),
        F.col("df").alias("_dfa"),
        *(["_n"] if max_df_frac is not None else []),
    )
    db = dfreq.select(F.col("tok").alias("tok_b"), F.col("df").alias("_dfb"))
    joined = co.join(da, "tok_a").join(db, "tok_b")
    if max_df_frac is None:
        # N attaches via a broadcast 1-row cross join — this compiles to a
        # BroadcastNestedLoopJoin of cardinality |pairs| × 1, which is a
        # scalar attach, not a pair explosion (the plan suite allows
        # exactly this one)
        joined = joined.crossJoin(F.broadcast(n_docs))
    return (
        joined.select(
            "tok_a",
            "tok_b",
            "co_docs",
            F.round(
                F.log(
                    F.col("co_docs") * F.col("_n").cast("double")
                    / (F.col("_dfa") * F.col("_dfb"))
                ),
                6,
            ).alias("pmi"),
        )
    )


def word_ngrams_all_of(toks: Column, n: int = 3) -> Column:
    """Word n-grams of a STAGED token-array column with duplicates KEPT —
    the multiset counterpart of ``word_ngrams_of`` (which is exactly
    ``array_distinct`` of this), for within-document repetition measurement.

    F.get (0-based) returns NULL for out-of-range indexes even under ANSI
    mode — element_at THROWS there, which breaks the partial-gram tail of
    documents shorter than n tokens.  concat_ws drops the NULLs, matching
    the DuckDB rendering exactly."""
    return F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0))),
        lambda i: F.concat_ws(" ", *[F.get(toks, i + j) for j in range(n)]),
    )


def repetition_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """Within-document repetition: total vs distinct n-gram counts and the
    duplicate fraction ``1 − distinct/total`` — the standard boilerplate /
    degenerate-generation quality filter (docs dominated by repeated
    n-grams get filtered or down-weighted before training).  Staged pure
    projection, zero shuffle."""
    toks = df.select(F.col(id_col).alias(id_col), tokens(F.col(text_col)).alias("_toks"))
    staged = toks.select(id_col, word_ngrams_all_of(F.col("_toks"), n).alias("_g"))
    total = F.size("_g")
    distinct = F.size(F.array_distinct("_g"))
    return staged.select(
        id_col,
        total.cast("long").alias("n_ngrams"),
        distinct.cast("long").alias("n_distinct"),
        F.round(F.lit(1.0) - distinct / F.greatest(total, F.lit(1)), 6).alias("rep_ratio"),
    )


def dup_ngram_fraction(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 5
) -> DataFrame:
    """CROSS-document duplicated-n-gram fraction: per doc, the share of its
    distinct word n-grams that occur in at least one OTHER document — the
    n-gram-granularity analogue of substring dedup (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"), where
    ``repetition_stats`` is the within-document signal.

    Plan (all thin rows after the explode): stage tokens → distinct
    (doc, 60-bit gram hash) pairs → gram document-frequency (one shuffle on
    the hash) → equi-join back (AQE handles hot-gram skew) → per-doc
    aggregate.  The gram STRING never shuffles — only its portable 60-bit
    hash (operators/hashing.py:h60), which the DuckDB oracle reproduces
    bit-for-bit.
    """
    from .hashing import h60

    toks = df.select(F.col(id_col), tokens(F.col(text_col)).alias("_toks"))
    # staged + PERSISTED before the explode: CollapseProject would otherwise
    # re-inline the tokenizer into the generate path, where (unlike Project,
    # which CSEs it) each of the n F.get references re-runs the whitespace
    # split per output gram — measured 13.9 s vs 3.3 s for one clean pass at
    # sf0.1.  Same discipline as ngram_jaccard_pairs (dedup.py:197).
    staged = persist(
        toks.select(id_col, word_ngrams_of(F.col("_toks"), n).alias("_g"))
    )
    # also persisted: pairs feeds BOTH the gram-frequency agg and the join
    # back, and the branches' partitionings differ, so exchange reuse does
    # not fire — without this the explode+hash+distinct runs twice.  Thin
    # (id, hash) rows spill-safely at scale.
    pairs = persist(
        staged.select(id_col, F.explode("_g").alias("_gram"))
        .select(id_col, h60(F.col("_gram")).alias("_gh"))
        .distinct()
    )
    freq = pairs.groupBy("_gh").agg(F.count("*").alias("_df"))
    joined = pairs.join(freq, "_gh")
    dup = (F.col("_df") >= 2).cast("int")
    return joined.groupBy(id_col).agg(
        F.count("*").alias("n_grams"),
        F.sum(dup).cast("long").alias("n_dup_grams"),
        F.round(F.avg(dup), 6).alias("dup_fraction"),
    )


def tfidf_cosine_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.3,
    max_df: int = 1000,
    max_df_frac: float | None = None,
) -> DataFrame:
    """All document pairs with TF-IDF cosine similarity ≥ ``threshold`` —
    SPARSE lexical similarity through an inverted-index equi-join, the
    BM25-family retrieval shape (vs the dense-embedding cosine of
    operators/similarity.py).

    Weights: w(d, t) = tf(d, t) · ln(N / df(t)) over the vocabulary of
    tokens appearing in at most ``max_df`` documents.  The cap is an
    ABSOLUTE count, and it is the scale bound: the posting self-join emits
    at most df(t)² pair rows per token, so total candidates are bounded by
    Σ_capped df² ≤ |vocab| · max_df² — independent of corpus size.  (A
    RELATIVE cap like 0.5·N is a stopword cut but NOT a scale bound: a
    token in half the corpus still yields O(N²/4) pairs from one posting
    list — the all-pairs-similarity literature caps absolutely for exactly
    this reason, e.g. Bayardo et al. 2007, whose prefix-filtering
    refinement ngram_jaccard_pairs(prefix=True) implements for set
    similarity.)  ``max_df_frac``, when given, OVERRIDES ``max_df`` with
    ceil(frac·N) — an explicit small-corpus convenience, not a scale
    setting.  Changelog note: before the absolute-cap rework this fraction
    path truncated (int(N·frac)); it now takes the CEILING, so a token
    whose document frequency lands exactly between floor and ceil is
    INCLUDED in the vocabulary where it previously was not — fraction
    callers migrating across that change see a (slightly) larger
    vocabulary, never a smaller one.  Norms are computed over the same
    capped vocabulary, so sim is a true cosine in that space.

    Plan: one shuffle for per-doc term counts, one for document
    frequencies, one posting equi-join on the token (id_a < id_b), one
    pair-level sum; norms ride two small joins.  The (doc, token, weight)
    relation is persisted once and feeds norms + both join sides.

    Output: (id_a, id_b, cosine round 6), cosine compared AFTER rounding
    so engine-side last-ulp sum differences cannot flip the threshold.
    """
    n_docs = df.count()
    if max_df_frac is not None:
        import math

        max_df = int(math.ceil(n_docs * max_df_frac))
    toks = df.select(
        F.col(id_col).alias("_id"), F.explode(tokens(F.col(text_col))).alias("t")
    )
    tf = toks.groupBy("_id", "t").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("t").agg(F.count("*").alias("df")).filter(
        F.col("df") <= F.lit(max_df)
    )
    w = persist(
        tf.join(dfreq, "t").select(
            "_id",
            "t",
            (F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df"))).alias("w"),
        )
    )
    norm = w.groupBy("_id").agg(F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("nrm"))
    a = w.select(F.col("_id").alias("id_a"), "t", F.col("w").alias("wa"))
    b = w.select(F.col("_id").alias("id_b"), "t", F.col("w").alias("wb"))
    num = (
        a.join(b, "t")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.sum(F.col("wa") * F.col("wb")).alias("num"))
    )
    na = norm.select(F.col("_id").alias("id_a"), F.col("nrm").alias("na"))
    nb = norm.select(F.col("_id").alias("id_b"), F.col("nrm").alias("nb"))
    return (
        num.join(na, "id_a")
        .join(nb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(F.col("num") / (F.col("na") * F.col("nb")), 6).alias("cosine"),
        )
        .filter(F.col("cosine") >= F.lit(threshold))
    )


def bm25_topk(
    df: DataFrame,
    max_query_id: int = 5,
    k: int = 5,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """BM25 top-k retrieval: documents with id < ``max_query_id`` act as the
    fixed query set (their DISTINCT tokens are the query terms, qtf = 1);
    every other document scores as

        Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)),
        idf(t) = ln((N − df + 0.5)/(df + 0.5) + 1)

    — the Robertson/Sparck-Jones formulation Lucene uses.  This is the
    query-driven complement to the pairwise ``tfidf_cosine_pairs``: one
    posting equi-join of the (broadcastable, fixed-size) query-term
    relation against corpus postings, so scan cost is linear in N with Q
    constant — the same scale contract as the dense ANN operators.

    avgdl is derived from INTEGER totals (Σdl / N) so both engines compute
    the identical double; ranks order by (round(score, 6) DESC, doc_id) —
    shuffle-order ulp noise in the float sum cannot flip a rank.

    Output: (query_id, doc_id, score round 6, rank ≤ k).
    """
    from pyspark.sql import Window

    n_docs = df.count()
    toks = df.select(
        F.col(id_col).alias("_id"), F.explode(tokens(F.col(text_col))).alias("t")
    )
    tf = persist(toks.groupBy("_id", "t").agg(F.count("*").alias("tf")))
    dl = tf.groupBy("_id").agg(F.sum("tf").alias("dl"))
    total_dl = dl.agg(F.sum("dl")).first()[0]
    avgdl = float(total_dl) / float(n_docs)  # exact: integer / integer
    dfreq = tf.groupBy("t").agg(F.count("*").alias("df"))
    qterms = (
        tf.filter(F.col("_id") < max_query_id)
        .select(F.col("_id").alias("query_id"), "t")
        .distinct()
    )
    idf = F.log(
        (F.lit(float(n_docs)) - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
        + F.lit(1.0)
    )
    denom = F.col("tf") + F.lit(k1) * (
        F.lit(1.0) - F.lit(b) + F.lit(b) * (F.col("dl") / F.lit(avgdl))
    )
    scored = (
        tf.join(F.broadcast(qterms), "t")
        .filter(F.col("_id") != F.col("query_id"))
        .join(dfreq, "t")
        .join(dl, "_id")
        .groupBy("query_id", F.col("_id").alias("doc_id"))
        .agg(
            F.round(
                F.sum(idf * F.col("tf") * F.lit(k1 + 1.0) / denom), 6
            ).alias("score")
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "doc_id", "score", "rank")
    )


def repetition_clean(
    df: DataFrame, n: int = 3, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """WITHIN-document repeated-span removal: delete every token covered by
    a word ``n``-gram whose identical gram already occurred EARLIER in the
    same document, and rebuild the cleaned text — the degenerate-repetition
    scrub (boilerplate refrains, copy-paste loops, model-generated
    stutter), the intra-document complement of the cross-document
    ``dedup.dedup_span_clean``.  The FIRST occurrence of a repeated span
    always survives; only re-occurrences are cut.

    Output: (``id_col``, n_tokens, n_removed, clean_text) — the same shape
    as dedup_span_clean, so the two compose into one scrub pass.

    Scale shape: this is a PURE PER-ROW column expression — zero shuffle,
    zero joins, zero Python.  Repeat detection is first-occurrence lookup
    inside the row's own gram array (``array_position``), and coverage is,
    per token, an ``exists`` over the ≤ n gram starts that could cover it,
    so the work is O(tokens · n) per document plus the O(grams²) worst case
    inside array_position — all bounded by document length, embarrassingly
    parallel at any corpus size."""
    toks = df.select(
        F.col(id_col), tokens(F.col(text_col)).alias("_toks")
    )
    staged = toks.select(
        id_col,
        "_toks",
        word_ngrams_all_of(F.col("_toks"), n).alias("_g"),
    )
    # _rep[i] (1-based gram start): this gram's FIRST occurrence is earlier
    rep = F.transform(
        F.col("_g"),
        lambda x, i: F.array_position(F.col("_g"), x) < i + F.lit(1),
    )
    with_rep = staged.select(id_col, "_toks", rep.alias("_rep"))
    # _cov[t] (1-based token): some repeated gram start in
    # [max(1, t-n+1), min(t, n_grams)] covers it.  For t >= 1 those bounds
    # always satisfy lo <= hi, but the OUTER token sequence must be guarded:
    # F.sequence(1, 0) runs DESCENDING on an empty document, so token
    # indices come from a when(size > 0, ...) wrapper instead.
    ng = F.size("_rep")
    token_idx = F.when(
        F.size("_toks") > 0, F.sequence(F.lit(1), F.size("_toks"))
    ).otherwise(F.array().cast("array<int>"))
    cov = F.transform(
        token_idx,
        lambda t: F.exists(
            F.sequence(F.greatest(t - n + 1, F.lit(1)), F.least(t, ng)),
            lambda i: F.element_at(F.col("_rep"), i),
        ),
    )
    with_cov = with_rep.select(id_col, "_toks", cov.alias("_cov"))
    kept = F.filter(
        F.transform(
            token_idx,
            lambda t: F.when(
                ~F.element_at(F.col("_cov"), t), F.element_at(F.col("_toks"), t)
            ),
        ),
        lambda x: x.isNotNull(),
    )
    return with_cov.select(
        id_col,
        F.size("_toks").cast("long").alias("n_tokens"),
        F.size(F.filter(F.col("_cov"), lambda x: x)).cast("long").alias("n_removed"),
        F.concat_ws(" ", kept).alias("clean_text"),
    )


def doc_logprob(
    df: DataFrame,
    buckets: int = 1 << 16,
    alpha: float = 0.5,
    seed: int = 9,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Hashed-unigram LM quality score — the CCNet-style perplexity-filter
    analog (Wenzek et al. 2020 filter CommonCrawl by LM perplexity; a
    hashed unigram model is its cheapest corpus-self-trained stand-in):
    train token frequencies over the WHOLE corpus, then score each document
    by its mean token log-probability.  Gibberish, boilerplate-free random
    strings, and wrong-language text score far below fluent text; the score
    feeds the same quality-floor verbs as text_quality.

    Tokens hash into ``buckets`` counts (the DSIR trick): the model is
    O(buckets), NOT O(vocabulary), so at 100 TB the count relation stays a
    few MB and broadcastable while a raw vocab would be billions of rows.
    Smoothing is add-``alpha`` over the bucket space.

    Output: (``id_col``, n_tokens, avg_logprob) — one row per document with
    at least one token.

    Scale shape: explode → ONE tiny shuffle over ≤ ``buckets`` keys for the
    counts → counts broadcast back onto the token stream (map-side join,
    no corpus shuffle) → one groupBy(doc) aggregate.  Two shuffles total,
    only one of them corpus-sized.  The token stream is deliberately NOT
    persisted although both the count branch and the scoring branch read
    it: exploded tokens dwarf the corpus, so re-running the regex
    tokenizer (cheap, embarrassingly parallel) beats caching a
    bigger-than-input relation — the opposite call from
    prep.token_budget_fill, whose shared projection is 5 narrow columns."""
    from .hashing import h32

    toks = df.select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("_tok"))
    tb = toks.select(
        id_col,
        (h32(F.concat(F.lit(f"lm{seed}_"), F.col("_tok"))) % F.lit(buckets)).alias(
            "bucket"
        ),
    )
    counts = tb.groupBy("bucket").agg(F.count("*").alias("cnt"))
    total = counts.agg(F.sum("cnt").alias("n_total"))
    return (
        tb.join(F.broadcast(counts), "bucket")
        .join(F.broadcast(total))
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_tokens"),
            # exact-integer mean (r13 fold-order sweep): the per-token
            # logprob is deterministic (same counts, same ln in both
            # engines); it quantizes to 1e-6 units so the per-doc sum is
            # exact at any partitioning, then one double division on
            # identical integers
            # close at SCALE 0 (micro-units), divide by 1e6 after: the
            # integer quotient sum/count can land EXACTLY on half a
            # micro-unit (doc 461 at sf0.001: sum/14 = ...5.5), where the
            # subsequent /1e6 is inexact and Spark's decimal HALF_UP
            # rounds the reconstructed tie up while DuckDB's
            # float-multiply round sees the sub-tie double — scale-0
            # rounding happens on the identical exact double in both
            (
                F.round(
                    F.sum(
                        F.round(
                            F.log(
                                (F.col("cnt") + F.lit(float(alpha)))
                                / (F.col("n_total") + F.lit(float(alpha) * buckets))
                            )
                            * 1e6,
                            0,
                        ).cast("long")
                    )
                    / F.count("*"),
                    0,
                )
                / F.lit(1e6)
            ).alias("avg_logprob"),
        )
    )


def gopher_rules(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_tokens: int = 8,
    max_tokens: int = 50_000,
    min_mwl: float = 3.0,
    max_mwl: float = 10.0,
    max_symbol_ratio: float = 0.1,
    min_alpha_word_ratio: float = 0.8,
    min_stopword_hits: int = 2,
    max_ellipsis_line_ratio: float = 0.3,
    max_dup_line_ratio: float = 0.3,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Gopher-style repetition/quality rule filter (Rae et al. 2021,
    arXiv:2112.11446 §A1.1): one boolean flag per published rule plus the
    conjunction, so a pipeline can either take ``keep`` or audit which rule
    fired.  The rule family (thresholds are the paper's, the token floor is
    a parameter because fixture documents are shorter than web pages):

    - ``len_ok``        token count in [min_tokens, max_tokens]
    - ``mwl_ok``        mean word length in [min_mwl, max_mwl]
    - ``symbol_ok``     (# of '#' chars + '...' runs) / tokens <= max_symbol_ratio
    - ``alpha_word_ok`` fraction of words containing a letter >= min_alpha_word_ratio
    - ``stopword_ok``   >= min_stopword_hits English stopword occurrences
    - ``ellipsis_ok``   fraction of lines ending in '...'/'…' <= max_ellipsis_line_ratio
    - ``dup_line_ok``   duplicate-line fraction <= max_dup_line_ratio

    Output: (``id_col``, n_tokens, the seven flags, keep) — one row per doc.

    Scale shape: a PURE projection — zero shuffles, zero joins, evaluated at
    the parquet scan inside whole-stage codegen, so it composes into any
    pipeline for free at any corpus size.  Tokens and trimmed lines are
    staged ONCE in an inner select (the Catalyst re-inlining trap:
    referencing ``tokens(text)`` from N rule lambdas would re-run the
    tokenizer N times per row).  All ratio comparisons use raw IEEE
    divisions (exactly rounded in both engines), so the oracle replays the
    flags bit-for-bit."""
    words = F.array(*[F.lit(w) for w in STOPWORDS["en"]])
    staged = df.select(
        F.col(id_col),
        *[F.col(c) for c in extra_cols],
        F.col(text_col).alias("_text"),
        tokens(F.col(text_col)).alias("_toks"),
        F.filter(
            F.transform(F.split(F.col(text_col), r"\n"), lambda l: F.trim(l)),
            lambda l: l != F.lit(""),
        ).alias("_lines"),
    )
    n_tok = F.size("_toks")
    n_lines = F.size("_lines")
    mwl = (
        F.aggregate(F.col("_toks"), F.lit(0), lambda acc, t: acc + F.length(t)).cast(
            "double"
        )
        / F.greatest(n_tok, F.lit(1))
    )
    n_hash = F.length("_text") - F.length(F.replace(F.col("_text"), F.lit("#"), F.lit("")))
    n_ellipsis = (
        F.length("_text") - F.length(F.replace(F.col("_text"), F.lit("..."), F.lit("")))
    ) / F.lit(3)
    symbol_ratio = (n_hash + n_ellipsis).cast("double") / F.greatest(n_tok, F.lit(1))
    alpha_words = F.size(F.filter(F.col("_toks"), lambda t: t.rlike("[a-z]")))
    alpha_word_ratio = alpha_words.cast("double") / F.greatest(n_tok, F.lit(1))
    stop_hits = F.size(F.filter(F.col("_toks"), lambda t: F.array_contains(words, t)))
    ell_lines = F.size(
        F.filter(
            F.col("_lines"),
            lambda l: l.endswith(F.lit("...")) | l.endswith(F.lit("…")),
        )
    )
    ellipsis_ratio = ell_lines.cast("double") / F.greatest(n_lines, F.lit(1))
    dup_line_ratio = (n_lines - F.size(F.array_distinct("_lines"))).cast(
        "double"
    ) / F.greatest(n_lines, F.lit(1))
    flags = {
        "len_ok": (n_tok >= min_tokens) & (n_tok <= max_tokens),
        "mwl_ok": (mwl >= min_mwl) & (mwl <= max_mwl),
        "symbol_ok": symbol_ratio <= max_symbol_ratio,
        "alpha_word_ok": alpha_word_ratio >= min_alpha_word_ratio,
        "stopword_ok": stop_hits >= min_stopword_hits,
        "ellipsis_ok": ellipsis_ratio <= max_ellipsis_line_ratio,
        "dup_line_ok": dup_line_ratio <= max_dup_line_ratio,
    }
    keep = None
    for c in flags.values():
        keep = c if keep is None else (keep & c)
    return staged.select(
        id_col,
        *extra_cols,
        n_tok.cast("long").alias("n_tokens"),
        *[c.alias(name) for name, c in flags.items()],
        keep.alias("keep"),
    )


def gopher_filter(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    **thresholds,
) -> DataFrame:
    """The Gopher rule gate as a PIPELINE FILTER: the source rows (all
    original columns, unchanged) that pass the rule conjunction.  Built on
    the same one-pass staged projection as ``gopher_rules`` — the flags are
    evaluated as a projection + filter AT THE SCAN (zero shuffles, zero
    joins; in particular no self-join of the corpus against its own flag
    relation, which is how a naive composition would write it).  This is
    the form a corpus-prep pipeline threads between the scan and
    clustering; ``gopher_rules`` remains the audit form."""
    passthrough = tuple(c for c in df.columns if c != id_col)
    flagged = gopher_rules(
        df, text_col=text_col, id_col=id_col, extra_cols=passthrough, **thresholds
    )
    return flagged.filter(F.col("keep")).select(id_col, *passthrough)


def top_df_vocab(
    df: DataFrame,
    vocab_size: int,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The corpus-derived top-``vocab_size`` DOCUMENT-frequency vocab as a
    broadcastable (token, _in_vocab) frame — shared by vocab_coverage and
    the streaming OOV-drift monitor so the two can never derive different
    vocabs.  Ties break by token string (engine-identical); the top-k is a
    TakeOrderedAndProject over the df aggregate, never a full sort."""
    occurrences = df.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("token")
    )
    dfreq = (
        occurrences.distinct().groupBy("token").agg(F.count("*").alias("df"))
    )
    return (
        dfreq.orderBy(F.desc("df"), F.asc("token"))
        .limit(vocab_size)
        .select("token", F.lit(True).alias("_in_vocab"))
    )


def vocab_coverage(
    df: DataFrame,
    vocab_size: int = 1000,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document vocabulary coverage against the corpus-derived top-k
    vocab — the tokenizer-fit diagnostic a training pipeline runs before
    committing a vocab/tokenizer to a corpus mix: documents dominated by
    out-of-vocabulary tokens are wrong-language, gibberish, or a domain the
    vocab was not fit on, and a corpus-level OOV-rate shift is an early
    ingest-drift alarm.

    Vocab = the ``vocab_size`` tokens with the highest DOCUMENT frequency
    (ties broken by token string, so both engines derive the identical
    set).  Output: (``id_col``, n_tokens, n_oov, oov_rate) per document
    with ≥ 1 token, where n_oov counts token OCCURRENCES outside the vocab
    and oov_rate = round(n_oov / n_tokens, 6).

    Scale shape: document frequency is one hash-aggregate over distinct
    (doc, token) pairs; the top-k is a TakeOrderedAndProject (never a full
    sort) whose k rows broadcast back onto the token stream — the corpus
    text never shuffles, and the only corpus-sized shuffle is the final
    per-document count."""
    toks = df.select(F.col(id_col), tokens(F.col(text_col)).alias("_t"))
    occurrences = toks.select(id_col, F.explode("_t").alias("token"))
    vocab = top_df_vocab(df, vocab_size, text_col=text_col, id_col=id_col)
    return (
        occurrences.join(F.broadcast(vocab), "token", "left")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_tokens"),
            F.count_if(F.col("_in_vocab").isNull()).alias("n_oov"),
        )
        .select(
            id_col,
            "n_tokens",
            "n_oov",
            F.round(
                F.col("n_oov").cast("double") / F.col("n_tokens"), 6
            ).alias("oov_rate"),
        )
    )


def perplexity_buckets(
    df: DataFrame,
    buckets: int = 1 << 16,
    alpha: float = 0.5,
    seed: int = 9,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
) -> DataFrame:
    """CCNet's head/middle/tail split (Wenzek et al. 2020 §3.2): rank every
    document by LM score WITHIN its language and cut into per-language
    terciles — head = the most fluent third, tail = the least.  CCNet keeps
    head+middle by default; downstream mixing verbs weight the buckets.
    Composes doc_logprob (the corpus-self-trained hashed-unigram LM) with a
    rank-based ntile, so the split is exactly reproducible across engines —
    unlike cutoff-by-interpolated-percentile, whose interpolation rules
    differ between engines and float between runs at quantile boundaries.

    Output: (``id_col``, lang, avg_logprob, ppl_bucket) — one row per
    document with at least one token; ppl_bucket ∈ {head, middle, tail}.

    Scale shape: doc_logprob's two shuffles (one bucket-sized, one per-doc)
    plus ONE ntile window partitioned by language — a per-language range
    sort over (score, id) pairs, 3 narrow columns, NOT the corpus text.
    At 100 TB with few languages the sort keys are ~tens of GB and Spark
    range-partitions each language across the cluster; if even that sort
    is unwanted, the production relaxation is approx_percentile cutoffs
    broadcast back (O(1) state), traded here for exact cross-engine
    determinism.  Ties in the 6-dp score break on ``id_col``."""
    from pyspark.sql import Window

    lp = doc_logprob(
        df, buckets=buckets, alpha=alpha, seed=seed,
        text_col=text_col, id_col=id_col,
    )
    w = Window.partitionBy(lang_col).orderBy(
        F.desc("avg_logprob"), F.asc(id_col)
    )
    names = F.array(F.lit("head"), F.lit("middle"), F.lit("tail"))
    return (
        lp.join(df.select(id_col, lang_col), id_col)
        .withColumn("_t", F.ntile(3).over(w))
        .select(
            id_col,
            lang_col,
            "avg_logprob",
            F.element_at(names, F.col("_t")).alias("ppl_bucket"),
        )
    )


def bpe_merge_candidates(
    df: DataFrame,
    k: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The first step of BPE tokenizer training (Sennrich et al. 2016):
    corpus-wide counts of ADJACENT character pairs inside words, ranked —
    the relation from which the first merge is picked (and, re-run after
    applying a merge, every later one).  A training-data pipeline runs
    this over the corpus it will fit the tokenizer on; the top pairs are
    the merge-table head.

    Output: (pair, n_occurrences, rank) — the ``k`` most frequent adjacent
    pairs, ties on the pair string.

    Scale shape: explode words → explode adjacent 2-char slices (linear in
    corpus chars) → ONE aggregate over the bigram alphabet (≤ |charset|²
    keys — hundreds, not corpus-sized) → top-k via ``orderBy().limit(k)``
    (TakeOrderedAndProject: per-partition heaps + one k-row merge, so the
    count relation is never globally sorted even if a pathological corpus
    blows the alphabet up) → the rank window runs over the
    ALREADY-LIMITED k rows.  (count desc, pair) is a total order, so
    limit-then-rank emits exactly rank-then-filter's relation.  Nothing
    corpus-sized survives the aggregate."""
    from pyspark.sql import Window

    words = df.select(F.explode(tokens(F.col(text_col))).alias("_w"))
    slices = F.when(
        F.length("_w") >= 2,
        F.transform(
            F.sequence(F.lit(1), F.length("_w") - 1),
            lambda i: F.col("_w").substr(i, F.lit(2)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    counts = (
        words.select(F.explode(slices).alias("pair"))
        .groupBy("pair")
        .agg(F.count("*").alias("n_occurrences"))
    )
    order = [F.desc("n_occurrences"), F.asc("pair")]
    return (
        counts.orderBy(*order)
        .limit(k)
        .withColumn(
            "rank", F.row_number().over(Window.orderBy(*order)).cast("long")
        )
        .select("pair", "n_occurrences", "rank")
    )


def exact_ntile(
    df: DataFrame,
    n_bins: int,
    order_cols: list,
    out_col: str = "_bin",
    buckets: int = 32,
) -> DataFrame:
    """Bit-identical replacement for ``ntile(n_bins).over(Window.orderBy(
    *order_cols))`` WITHOUT the single-task global sort that window implies
    — the scale-killer VERDICT r10 flagged in the two staged diagnostics.

    Shape (the ``pack_sequences`` bucketed-prefix-sum discipline,
    operators/prep.py:_hash_order_prefix, transplanted to a range key):
    ``repartitionByRange(buckets, *order_cols)`` spreads the sort across
    the cluster (range partition i holds keys strictly below partition
    i+1's); per-partition row counts — a ``buckets``-row relation — get a
    prefix sum + total via one tiny unpartitioned window; broadcasting
    those offsets back turns each row's per-partition ``row_number`` into
    its exact GLOBAL rank.  The rank → bin map is then pure int64
    arithmetic restating SQL-standard ntile semantics (the first
    ``N mod n_bins`` bins take ``⌈N/n_bins⌉`` rows, the rest
    ``⌊N/n_bins⌋``), so the result matches any engine's ntile exactly.

    The composite sort key MUST be unique (callers append an id
    tiebreaker): range partitioning fixes only the BETWEEN-partition
    order, per-partition ``row_number`` the within-partition order —
    unique keys make both total, hence the global rank deterministic.

    The only single-partition exchange in the plan feeds the
    ``buckets``-row counts aggregate, never the input relation; a
    plan-lock test (test_plans.py) asserts exactly that.  The rank core is
    the shared ``prep.exact_global_rank`` (dq.exact_quantiles is the other
    consumer); this wrapper adds only the rank→bin arithmetic."""
    from .prep import exact_global_rank

    ranked = (
        exact_global_rank(df, order_cols, buckets=buckets)
        .withColumn("_rem", F.expr(f"_n % {int(n_bins)}"))
        .withColumn("_small", F.expr(f"_n div {int(n_bins)}"))
    )
    bin_expr = F.expr(
        "IF(_rank <= _rem * (_small + 1),"
        " (_rank - 1) div (_small + 1) + 1,"
        " _rem + (_rank - _rem * (_small + 1) - 1) div greatest(_small, 1L)"
        " + 1)"
    )
    return ranked.withColumn(out_col, bin_expr).drop(
        "_n", "_rank", "_rem", "_small"
    )


def quality_calibration_bins(
    df: DataFrame,
    n_bins: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_tokens: int = 20,
) -> DataFrame:
    """Calibration of the cheap composite quality score against the Gopher
    rule gate: rank documents by quality score, cut into ``n_bins``
    deciles, and report each decile's Gopher keep rate — the check a
    pipeline runs BEFORE trusting a single score threshold in place of the
    full rule conjunction (a well-calibrated score shows keep_rate rising
    monotonically with the decile; a flat curve means the score and the
    gate measure different things).

    Output: (decile, n_docs, keep_rate, min_quality, max_quality) — decile
    1 = lowest-scoring.  The quality bounds are exact order statistics
    (no float summation whose order could differ between engines);
    keep_rate is an integer ratio, exact before its 6-dp round.

    Scale shape: the score and the gate are both zero-shuffle scan
    projections over ONE narrow (id, quality, keep) relation; the exact
    deciles come from ``exact_ntile`` — a repartitionByRange-distributed
    global rank (per-partition prefix counts, no single-task sort) whose
    rank→bin arithmetic is bit-identical to SQL ntile, keeping the exact
    cross-engine determinism the oracle needs without the scale-killer
    unpartitioned window VERDICT r10 flagged here."""
    q = text_stats(df, text_col=text_col, id_col=id_col).select(
        id_col, "quality"
    )
    g = gopher_rules(
        df, text_col=text_col, id_col=id_col, min_tokens=min_tokens
    ).select(id_col, "keep")
    j = q.join(g, id_col)
    return (
        exact_ntile(j, n_bins, ["quality", id_col], out_col="decile")
        .withColumn("decile", F.col("decile").cast("long"))
        .groupBy("decile")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(
                F.sum(F.col("keep").cast("long")) / F.count("*"), 6
            ).alias("keep_rate"),
            F.min("quality").alias("min_quality"),
            F.max("quality").alias("max_quality"),
        )
    )


def vocab_growth_curve(
    df: DataFrame,
    shingle_n: int = 3,
    n_bins: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Heaps-law vocabulary growth: cut the corpus into ``n_bins``
    id-ordered slices and report how many NEW distinct word ``shingle_n``-
    grams each slice introduces — the is-more-data-adding-diversity-or-
    repetition diagnostic (a curve that flattens early says the crawl is
    re-crawling itself; dedup budgets and stop-crawling decisions read
    exactly this).

    Output: (decile, new_shingles, vocab_size) — vocab_size cumulative;
    slices that introduce nothing still appear with zeros.  All values are
    exact integers: first-occurrence is a min over doc ids, so the
    relation is reproducible across engines bit-for-bit.

    Scale shape: explode shingles → ONE linear groupBy(shingle) min
    aggregate (thin (hashable-gram, id) rows; map-side combine) → the
    first-occurrence relation joins the id→slice map (``exact_ntile`` over
    doc IDS ONLY: repartitionByRange-distributed exact rank, no
    single-task sort — the VERDICT r10 fix) → an ``n_bins``-row rollup +
    running sum over those ``n_bins`` rows."""
    from pyspark.sql import Window

    bins = exact_ntile(
        df.select(F.col(id_col)), n_bins, [id_col], out_col="_bin"
    )
    # stage tokens as their own projection (see word_ngrams_of: the gram
    # lambda references the token array n times per element, and codegen
    # subexpression elimination only partially covers the inlined form —
    # staging measured ~15-20% faster on this entry at sf0.1)
    toks = df.select(F.col(id_col), tokens(F.col(text_col)).alias("_toks"))
    post = toks.select(
        F.col(id_col),
        F.explode(word_ngrams_of(F.col("_toks"), shingle_n)).alias("_s"),
    )
    first = post.groupBy("_s").agg(F.min(id_col).alias(id_col))
    per_bin = (
        first.join(bins, id_col)
        .groupBy("_bin")
        .agg(F.count("*").alias("new_shingles"))
    )
    spine = bins.select("_bin").distinct()
    cum = Window.orderBy("_bin").rowsBetween(Window.unboundedPreceding, 0)
    return (
        spine.join(per_bin, "_bin", "left")
        .withColumn("new_shingles", F.coalesce(F.col("new_shingles"), F.lit(0)))
        .select(
            F.col("_bin").cast("long").alias("decile"),
            F.col("new_shingles").cast("long").alias("new_shingles"),
            F.sum("new_shingles").over(cum).cast("long").alias("vocab_size"),
        )
    )


def ngram_novelty(
    df: DataFrame,
    shingle_n: int = 3,
    n_bins: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-slice shingle NOVELTY — the complement of ``vocab_growth_curve``
    and the direct repeat-rate diagnostic: for each of ``n_bins``
    id-ordered corpus slices, what fraction of the slice's (doc, distinct
    shingle) instances are FIRST occurrences (the shingle appears in no
    earlier doc)?  A crawl that keeps re-crawling itself shows novelty
    collapsing toward 0 in later slices; dedup budgets and continue-vs-stop
    crawling calls read exactly this rate, per slice rather than
    cumulatively.

    Output: (decile, n_docs, total_shingles, new_shingles, novelty_rate) —
    integer sums end to end with ONE exactly-rounded division per output
    row, so the relation is bit-identical across engines (no float
    accumulation order anywhere).  Docs with no shingles still count in
    n_docs with zero contributions.

    Scale shape: explode distinct (doc, shingle) pairs → ONE linear
    groupBy(shingle) min aggregate (first occurrence) → equi-join back on
    the shingle (both sides thin hashable-gram rows; text never shuffles)
    → per-doc integer counts → the id→slice map from ``exact_ntile``
    (repartitionByRange exact rank, no single-task sort) → an
    ``n_bins``-row rollup."""
    # word_ngrams is distinct-per-doc by construction, so the exploded
    # (doc, shingle) pairs are already unique — no dedup shuffle needed;
    # tokens staged as their own projection (word_ngrams_of's contract) —
    # this relation is consumed TWICE below, so the saving doubles
    toks = df.select(F.col(id_col), tokens(F.col(text_col)).alias("_toks"))
    post = toks.select(
        F.col(id_col),
        F.explode(word_ngrams_of(F.col("_toks"), shingle_n)).alias("_s"),
    )
    first = post.groupBy("_s").agg(F.min(id_col).alias("_first"))
    per_doc = (
        post.join(first, "_s")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("_n_sh"),
            F.sum(
                F.when(F.col("_first") == F.col(id_col), 1).otherwise(0)
            ).alias("_n_new"),
        )
    )
    bins = exact_ntile(df.select(F.col(id_col)), n_bins, [id_col], out_col="_bin")
    return (
        bins.join(per_doc, id_col, "left")
        .groupBy("_bin")
        .agg(
            F.count("*").alias("n_docs"),
            F.coalesce(F.sum("_n_sh"), F.lit(0)).cast("long").alias("total_shingles"),
            F.coalesce(F.sum("_n_new"), F.lit(0)).cast("long").alias("new_shingles"),
        )
        .select(
            F.col("_bin").cast("long").alias("decile"),
            "n_docs",
            "total_shingles",
            "new_shingles",
            F.round(
                F.col("new_shingles")
                / F.greatest(F.col("total_shingles"), F.lit(1)),
                6,
            ).alias("novelty_rate"),
        )
    )


def rule_cofail_matrix(flags: DataFrame, rule_cols: list) -> DataFrame:
    """Pairwise co-failure matrix over a boolean rule-flag relation — for
    every unordered rule pair (a <= b), how many documents fail BOTH.
    The filter-tuning diagnostic behind a rule stack: near-diagonal mass
    means rules fire on disjoint documents (each earns its keep); a hot
    off-diagonal cell means two rules reject the same documents and one
    is a candidate to drop from the conjunction (Rae et al. 2021 §A1.1
    tunes exactly this redundancy).  Diagonal cells are per-rule fail
    counts.

    Scale shape: ONE partially-aggregated pass over the flags relation
    collapses the corpus to a single row of |pairs| counters (booleans
    reduce at the scan — the corpus never shuffles), then a driver-free
    explode widens it to the |pairs|-row matrix.

    Output: (rule_a, rule_b, n_cofail, cofail_rate)."""
    pairs = [
        (ra, rb)
        for i, ra in enumerate(rule_cols)
        for rb in rule_cols[i:]
    ]
    aggs = [F.count("*").cast("long").alias("_n")]
    for ra, rb in pairs:
        aggs.append(
            F.sum(((~F.col(ra)) & (~F.col(rb))).cast("long"))
            .cast("long")
            .alias(f"_c_{ra}__{rb}")
        )
    row = flags.agg(*aggs)
    cells = F.array(
        *[
            F.struct(
                F.lit(ra).alias("rule_a"),
                F.lit(rb).alias("rule_b"),
                F.col(f"_c_{ra}__{rb}").alias("n_cofail"),
            )
            for ra, rb in pairs
        ]
    )
    return row.select(F.col("_n"), F.explode(cells).alias("_s")).select(
        F.col("_s.rule_a").alias("rule_a"),
        F.col("_s.rule_b").alias("rule_b"),
        F.col("_s.n_cofail").alias("n_cofail"),
        F.round(F.col("_s.n_cofail") / F.col("_n"), 6).alias("cofail_rate"),
    )


def heavy_hitter_grams(
    df: DataFrame,
    text_col: str = "text",
    n: int = 3,
    min_share_denom: int = 5000,
    sketch_k: int = 8192,
) -> DataFrame:
    """All word n-grams with corpus share >= 1/min_share_denom, by the
    two-pass sketch-then-verify heavy-hitters pattern (Misra–Gries
    summaries merged as in Agarwal et al., Mergeable Summaries, PODS'12).

    Where ``key_skew_report`` aggregates the FULL exact count relation
    (distinct-cardinality-sized — billions of rows for grams at corpus
    scale) and then takes top-k, this verb never materializes it:

    1. SKETCH: each partition folds its gram stream into a k-counter
       Misra–Gries summary inside one Arrow-batched ``mapInPandas``
       (per batch: one vectorized ``value_counts`` merge + an O(k)
       compress; memory bounded by k regardless of stream length) and
       emits the k residual counters + its instance total — thin
       (gram, cnt) rows, <= sketch_k + 1 per partition.
    2. MERGE: residuals sum per gram (a distributed aggregate over the
       thin sketch rows), and the candidate set is the top-sketch_k by
       merged residual via TakeOrderedAndProject — BOUNDED at any
       partition count, so the broadcast below can never grow with the
       cluster.
    3. VERIFY: one exact count pass over the grams of candidate keys
       only (broadcast semi-join prunes at the scan side), thresholded
       with integer arithmetic (cnt * denom >= N).

    The MG guarantee (merged undercount <= N/(k+1), and k+1 >
    min_share_denom is enforced) makes the candidate set a SUPERSET of
    every qualifying gram, so the verified output EQUALS the exact
    thresholded answer for ANY partitioning — which is what the oracle
    and the property gate state.  The compress branch itself cannot fire
    at bench scale (per-partition distinct grams < k there); it is
    forced and equality-gated with tiny k in the unit layer.

    Output: (gram, n_occurrences, share)."""
    import pandas as pd

    if sketch_k < min_share_denom:
        raise ValueError(
            "sketch_k must be >= min_share_denom for the Misra-Gries "
            "superset guarantee"
        )
    k = int(sketch_k)
    toks = df.select(tokens(F.col(text_col)).alias("_t"))
    grams = toks.select(F.explode(word_ngrams_all_of(F.col("_t"), n)).alias("gram"))

    def _mg_pass(batches):
        from collections import Counter

        counters: Counter = Counter()
        total = 0
        for pdf in batches:
            vc = pdf["gram"].value_counts()
            total += int(vc.sum())
            counters.update(vc.to_dict())
            if len(counters) > k:
                sub = sorted(counters.values(), reverse=True)[k]
                for key in list(counters):
                    c = counters[key] - sub
                    if c > 0:
                        counters[key] = c
                    else:
                        del counters[key]
        yield pd.DataFrame(
            {
                "gram": list(counters.keys()) + [None],
                "cnt": pd.Series(
                    list(counters.values()) + [0], dtype="int64"
                ),
                "part_total": pd.Series(
                    [None] * len(counters) + [total], dtype="Int64"
                ),
            }
        )

    sketch = persist(
        grams.mapInPandas(_mg_pass, "gram string, cnt long, part_total long")
    )
    merged = (
        sketch.filter(F.col("gram").isNotNull())
        .groupBy("gram")
        .agg(F.sum("cnt").alias("_c"))
    )
    cands = merged.orderBy(F.desc("_c"), "gram").limit(k).select("gram")
    total = sketch.agg(F.sum("part_total").cast("long").alias("_n"))
    counts = (
        grams.join(F.broadcast(cands), "gram")
        .groupBy("gram")
        .agg(F.count("*").cast("long").alias("n_occurrences"))
    )
    return (
        counts.crossJoin(F.broadcast(total))
        .filter(
            F.col("n_occurrences") * F.lit(int(min_share_denom)) >= F.col("_n")
        )
        .select(
            "gram",
            "n_occurrences",
            F.round(F.col("n_occurrences") / F.col("_n"), 6).alias("share"),
        )
    )


def lang_mislabel_matrix(
    df: DataFrame, text_col: str = "text", lang_col: str = "lang"
) -> DataFrame:
    """Language-metadata audit: the confusion matrix between a corpus's
    DECLARED language tag and the n-gram/stopword ``language_id``
    prediction — the screen that catches mislabeled crawls and routing
    bugs before per-language sampling weights (domain_mix_sample,
    stratified_split) are computed from a tag nobody verified.

    Reuses ``text_stats``'s staged single-tokenization projection with the
    lang tag riding the ``id_col`` pass-through slot, so the matrix costs
    exactly the stats projection plus ONE bounded groupBy — no doc_id
    join-back, no second tokenizer pass.  The per-lang share window runs
    over the GROUPED cells relation (|langs| × |preds| rows, bounded by
    the label vocabulary, not the corpus), so it is safe at any scale.

    Output: one row per (lang, lang_pred) cell — n_docs, avg_quality
    (does the mispredicted slice also read as low quality?),
    share_of_lang, agree.

    ``avg_quality`` follows the exact-integer discipline (r13 sweep of
    the round(avg(double)) fold-order class): quality quantizes per-row
    to 1e-6 units (``round(quality·1e6)::long``), the per-cell sum is
    exact at any partitioning, and one double division per cell runs on
    identical integers in both engines."""
    from pyspark.sql import Window

    q6 = F.round(F.col("quality") * 1e6, 0).cast("long")
    cells = (
        text_stats(df, text_col=text_col, id_col=lang_col)
        .groupBy(F.col(lang_col).alias("lang"), "lang_pred")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            # scale-0 close on the exact integer quotient (see doc_logprob)
            (F.round(F.sum(q6) / F.count("*"), 0) / F.lit(1e6)).alias(
                "avg_quality"
            ),
        )
    )
    per_lang = Window.partitionBy("lang")
    return cells.select(
        "lang",
        "lang_pred",
        "n_docs",
        "avg_quality",
        F.round(
            F.col("n_docs") / F.sum("n_docs").over(per_lang).cast("double"), 6
        ).alias("share_of_lang"),
        (F.col("lang") == F.col("lang_pred")).cast("long").alias("agree"),
    )
