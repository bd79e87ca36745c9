"""Training-data preparation operators.

The last mile of an LLM data pipeline after dedup/quality filtering: split
assignment, chunking long documents into token windows, PII redaction,
packing documents into token-budget batches, and benchmark-contamination
checks.  The reference has no counterpart (SURVEY §2.8 — the rebuild's
north-star extension surface); every operator here is a pure DataFrame
plan with engine-portable arithmetic so the DuckDB oracle replays it
bit-for-bit.

Scale shapes:
- split/redact/chunk are zero-shuffle projections (chunking explodes to
  ~n_tokens/stride rows per doc, still embarrassingly parallel);
- pack_batches windows a cumulative sum per shard (partitionBy(shard_col)),
  so packing parallelizes across shards with no single-task sort; the
  unsharded variant exists only for small relations;
- contamination is the inverted-index semi-join pattern from
  dedup.ngram_jaccard_pairs with the probe side broadcast.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .cache import persist
from .hashing import h32
from .text import bpe_token_count, tokens, word_ngrams_of

#: hash-bucket split boundaries (out of 100): [0, TRAIN) train,
#: [TRAIN, TRAIN+VAL) val, rest test.
SPLIT_TRAIN, SPLIT_VAL = 80, 10


def split_expr(
    id_col: str = "doc_id", train: int = SPLIT_TRAIN, val: int = SPLIT_VAL
) -> Column:
    """The train/val/test label as a pure COLUMN expression over the id —
    composable into any projection (the pipeline capstone attaches it with
    withColumn instead of a join, so the assignment never duplicates its
    input subtree in the plan)."""
    bucket = h32(F.col(id_col)) % 100
    return (
        F.when(bucket < train, "train")
        .when(bucket < train + val, "val")
        .otherwise("test")
    )


def split_assign(
    df: DataFrame, id_col: str = "doc_id", train: int = SPLIT_TRAIN, val: int = SPLIT_VAL
) -> DataFrame:
    """Deterministic train/val/test assignment by hash bucket.

    ``bucket = md5-hash(id) mod 100`` — a pure function of the id, so the
    assignment is reproducible across runs, engines, and cluster layouts
    (unlike ``rand(seed)``, whose stream depends on partitioning).  This is
    the standard leakage-safe split: a document can never migrate between
    splits when the corpus is re-partitioned or re-sampled."""
    bucket = h32(F.col(id_col)) % 100
    return df.select(
        id_col,
        bucket.alias("bucket"),
        split_expr(id_col, train, val).alias("split"),
    )


def component_split_assign(
    comps: DataFrame,
    id_col: str = "doc_id",
    component_col: str = "component",
    train: int = SPLIT_TRAIN,
    val: int = SPLIT_VAL,
) -> DataFrame:
    """Train/val/test assignment at near-duplicate-CLUSTER granularity.

    ``split_assign`` is leakage-safe against re-partitioning, but a doc-id
    hash still lets two NEAR-DUPLICATE documents land in different splits —
    the train/test contamination mode the dedup literature warns about
    (Lee et al. 2022 §6: near-dups of eval data inflate scores even after
    exact dedup).  This operator hashes the connected-COMPONENT
    representative instead, so every member of a dup cluster shares one
    split by construction.

    Input is the components relation (``neardup_components``: id,
    component = min-id representative, component_size).  Output keeps the
    doc-level assignment alongside (``doc_split``) and flags ``migrated``
    rows — members whose doc-hash split disagrees with their cluster's.
    Singletons have component == id, hence identical hashes and
    ``migrated = false`` always: the verb provably changes ONLY docs in
    multi-doc clusters.

    Scale shape: a pure zero-shuffle projection over the components
    relation — all the heavy lifting (pair graph + CC) is the upstream
    relation's, already bounded; nothing here adds an exchange."""
    comp_split = split_expr(component_col, train, val)
    doc_split = split_expr(id_col, train, val)
    return comps.select(
        id_col,
        component_col,
        "component_size",
        comp_split.alias("split"),
        doc_split.alias("doc_split"),
        (comp_split != doc_split).alias("migrated"),
    )


def doc_chunks(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    size: int = 64,
    overlap: int = 16,
) -> DataFrame:
    """Split documents into overlapping token windows (the training-sample
    chunker): window w covers tokens [w·stride, w·stride + size) with
    stride = size − overlap; the last window keeps its tail even when
    shorter.  Zero shuffle — stage tokens, compute window starts with one
    ``sequence``, explode."""
    stride = size - overlap
    toks = df.select(F.col(id_col).alias(id_col), tokens(F.col(text_col)).alias("_toks"))
    n = F.size("_toks")
    n_chunks = F.greatest(
        F.ceil((n - F.lit(overlap)).cast("double") / F.lit(stride)).cast("int"), F.lit(1)
    )
    starts = F.sequence(F.lit(0), n_chunks - 1)
    chunked = toks.select(
        id_col,
        "_toks",
        F.explode(F.transform(starts, lambda w: w * stride)).alias("_start"),
    )
    piece = F.slice(F.col("_toks"), F.col("_start") + 1, size)
    return chunked.select(
        id_col,
        (F.col("_start") / stride).cast("long").alias("chunk_id"),
        F.size(piece).cast("long").alias("n_tokens"),
        F.concat_ws(" ", piece).alias("chunk_text"),
    )


#: Conservative, dialect-portable redaction patterns (identical semantics in
#: Java regex and DuckDB's RE2): emails, and digit runs long enough to be
#: identifiers (phone/SSN-like).  Real pipelines plug stronger recognizers
#: into the same projection.
EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
LONG_DIGITS_RE = "[0-9]{9,}"


def redact_pii(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Redact emails and long digit runs, keeping match counts for audit.
    Pure projection — regexp_replace/count run inside codegen."""
    email_hits = F.size(F.regexp_extract_all(F.col(text_col), F.lit(EMAIL_RE), 0))
    digit_hits = F.size(F.regexp_extract_all(F.col(text_col), F.lit(LONG_DIGITS_RE), 0))
    cleaned = F.regexp_replace(
        F.regexp_replace(F.col(text_col), EMAIL_RE, "<EMAIL>"),
        LONG_DIGITS_RE,
        "<NUMBER>",
    )
    return df.select(
        id_col,
        email_hits.cast("long").alias("n_emails"),
        digit_hits.cast("long").alias("n_long_numbers"),
        cleaned.alias("clean_text"),
    )


def pack_batches(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    budget: int = 2048,
    shard_col: str | None = None,
) -> DataFrame:
    """Assign documents to token-budget batches in deterministic id order:
    ``batch_id = floor(preceding_cumulative_tokens / budget)`` — the
    streaming-order packing rule (a document may start a new batch slightly
    over budget; boundaries are a pure function of the ordered token
    counts).

    With ``shard_col`` (the 100 TB shape) the window is
    ``PARTITION BY shard ORDER BY id`` — every shard packs independently and
    in parallel, batch ids are per-shard, and ``(shard, batch_id)`` is the
    globally unique batch key; the cumulative sum never serializes onto a
    single task (plan-asserted: no ``Exchange SinglePartition``).  Without
    ``shard_col`` the global-order variant remains for small relations —
    that one IS a single-task sort and must not be used at corpus scale."""
    sized_cols = [
        F.col(id_col).alias(id_col),
        bpe_token_count(F.col(text_col)).cast("long").alias("n_tokens"),
    ]
    if shard_col is not None:
        sized = df.select(F.col(shard_col).alias("shard"), *sized_cols)
        w = Window.partitionBy("shard").orderBy(id_col)
    else:
        sized = df.select(*sized_cols)
        w = Window.orderBy(id_col)
    cum_before = F.coalesce(
        F.sum("n_tokens").over(w.rowsBetween(Window.unboundedPreceding, -1)), F.lit(0)
    )
    lead = ["shard", id_col] if shard_col is not None else [id_col]
    return sized.select(
        *lead,
        "n_tokens",
        F.floor(cum_before / budget).cast("long").alias("batch_id"),
    )


def group_sample(
    df: DataFrame,
    group_col: str,
    id_col: str = "doc_id",
    k: int = 5,
    seed: int = 7,
) -> DataFrame:
    """Deterministic uniform sample of ``k`` rows per group: rank rows by a
    seeded hash of their id and keep the first ``k``.

    The hash order is a pure function of (id, seed) — unlike ``rand()``
    sampling, the selected set is identical across runs, partitionings, and
    engines (the md5 hash family is oracle-portable), which is what a
    reproducible eval-subset or debugging sample needs.  One shuffle on the
    group key; the window ranks within groups only."""
    hv = h32(F.concat(F.lit(f"gs{seed}_"), F.col(id_col).cast("string")))
    w = Window.partitionBy(group_col).orderBy(hv.asc(), F.col(id_col).asc())
    return (
        df.withColumn("sample_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("sample_rank") <= k)
        .select(group_col, id_col, "sample_rank")
    )


def stratified_sample(
    df: DataFrame,
    rates: dict[str, float],
    group_col: str = "source",
    id_col: str = "doc_id",
    seed: int = 7,
) -> DataFrame:
    """Deterministic per-group (domain-mix) downsampling — the training-mix
    verb: keep each row of group g with probability ``rates[g]``, decided
    by a seeded hash of the row id, NOT rand().

    keep(row) ⇔ h32("ss{seed}_" + id) mod 10000 < round(rates[g]·10000)

    Properties a 100 TB mixing pass needs and rand() sampling lacks:
    - reproducible: the kept set is a pure function of (id, seed, rates) —
      identical across runs, partitionings, engines (md5 hash family);
    - monotone in the rate: raising a domain's rate only ADDS documents
      (the kept set at 0.25 is a subset of the kept set at 0.5), so mix
      ratios can be tuned without churning the corpus;
    - zero shuffle: the rate lookup is a broadcast literal map and the
      predicate is pure codegen, evaluated at the scan.

    Groups absent from ``rates`` are dropped (an explicit mix — silence
    would make a typo'd domain name pass everything through).  Rates must
    lie in [0, 1]."""
    for g, r in rates.items():
        if not 0.0 <= r <= 1.0:
            raise ValueError(f"rate for group {g!r} must be in [0, 1], got {r}")
    mapping = F.create_map(
        *[
            lit
            for g, r in sorted(rates.items())
            for lit in (F.lit(g), F.lit(int(round(r * 10000))))
        ]
    )
    hv = h32(F.concat(F.lit(f"ss{seed}_"), F.col(id_col).cast("string"))) % 10000
    thresh = mapping[F.col(group_col)]
    return df.filter(thresh.isNotNull() & (hv < thresh))


def contamination_check(
    df: DataFrame,
    probe: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 8,
) -> DataFrame:
    """Benchmark-contamination scan: for every corpus document, the number
    of distinct ``shingle_n``-gram shingles it shares with each probe
    (evaluation-set) document.  Inverted-index equi-join — the probe side
    is tiny and broadcast, so the corpus is scanned once with no shuffle of
    its text."""
    corpus_post = (
        df.select(F.col(id_col).alias(id_col), tokens(F.col(text_col)).alias("_t"))
        .select(id_col, word_ngrams_of(F.col("_t"), shingle_n).alias("_sh"))
        .select(id_col, F.explode("_sh").alias("sh"))
    )
    probe_post = (
        probe.select(F.col(id_col).alias("probe_id"), tokens(F.col(text_col)).alias("_t"))
        .select("probe_id", word_ngrams_of(F.col("_t"), shingle_n).alias("_sh"))
        .select("probe_id", F.explode("_sh").alias("sh"))
    )
    return (
        corpus_post.join(F.broadcast(probe_post), "sh")
        .groupBy(id_col, "probe_id")
        .agg(F.count("*").alias("n_shared"))
    )


def split_leakage_check(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 8,
    train: int = SPLIT_TRAIN,
    val: int = SPLIT_VAL,
) -> DataFrame:
    """Cross-split decontamination scan: for every TEST document (under the
    same hash split as ``split_assign``), the number of its distinct
    ``shingle_n``-gram shingles that also occur in ANY train document —
    the train/test leakage audit (the GPT-3 appendix-C / Dodge et al. 2021
    C4-decontamination verb) run BEFORE a split ships.

    Output: (``id_col``, n_shingles, n_leaked, leak_frac), one row per test
    document.  Plan: one tokenize+shingle projection feeds both sides; the
    train side reduces to DISTINCT shingles (hash-aggregate with map-side
    combine — one row per shingle, so hot boilerplate shingles cannot skew
    the join build side), then one shuffle equi-join on the shingle key and
    a per-document count.  Nothing broadcasts a corpus-sized relation and
    the text column never shuffles — only (shingle-hash, id) pairs."""
    # stage the token array as its own projection so the n-gram lambda
    # references a materialized column (see text.word_ngrams_of: inlining
    # re-runs the whitespace split per element), and PERSIST it: three
    # consumers below (train distinct, test postings, test totals) would
    # otherwise each replay the corpus-wide tokenize+shingle chain
    base = persist(
        df.select(
            F.col(id_col),
            split_expr(id_col, train, val).alias("_split"),
            tokens(F.col(text_col)).alias("_t"),
        ).select(
            id_col, "_split", word_ngrams_of(F.col("_t"), shingle_n).alias("_sh")
        )
    )
    test_docs = base.filter(F.col("_split") == "test")
    train_post = (
        base.filter(F.col("_split") == "train")
        .select(F.explode("_sh").alias("sh"))
        .distinct()
    )
    test_post = test_docs.select(id_col, F.explode("_sh").alias("sh"))
    leaked = (
        test_post.join(train_post, "sh")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_leaked"))
    )
    totals = test_docs.select(
        id_col, F.size("_sh").cast("long").alias("n_shingles")
    )
    out = totals.join(leaked, id_col, "left").select(
        id_col,
        "n_shingles",
        F.coalesce(F.col("n_leaked"), F.lit(0)).cast("long").alias("n_leaked"),
        F.round(
            F.coalesce(F.col("n_leaked"), F.lit(0)).cast("double")
            / F.greatest(F.col("n_shingles"), F.lit(1)),
            6,
        ).alias("leak_frac"),
    )
    return out


def token_budget_fill(
    df: DataFrame,
    budgets: dict[str, int] | int,
    text_col: str = "text",
    group_col: str = "lang",
    id_col: str = "doc_id",
    seed: int = 7,
    buckets: int = 32,
) -> DataFrame:
    """Greedy per-group token-budget fill — the mixing verb real pipelines
    use when the target is "B tokens of each domain", not a keep RATE
    (stratified_sample): walk each group's documents in seeded-hash order
    and keep a document iff the tokens accumulated BEFORE it are still
    under the group's budget (so the budget may overshoot by at most one
    document, never undershoot while documents remain).

    Output: (``id_col``, ``group_col``, n_tokens, cum_before, kept) — one
    row per input document; n_tokens is the whitespace token count,
    cum_before the group's running total over all hash-earlier documents.
    ``budgets`` is per-group (groups absent are dropped, same contract as
    stratified_sample) or one int applied to every group.

    Scale shape — a distributed prefix sum, NOT one window per group: a
    naive ``Window.partitionBy(group)`` funnels each group through a single
    task, which dies at 100 TB where one language IS most of the corpus.
    Instead the order hash is range-bucketed (bucket = floor(h·B/p), which
    is monotone in h, so bucket order refines hash order exactly); the
    per-(group, bucket) token sums form a tiny G×B relation whose prefix
    offsets are computed on the small side and broadcast back; each task
    then windows only its own (group, bucket) slice.  The decomposition is
    exact — cum_before equals the single global window's value — and the
    oracle replays it AS that global window.  One shuffle (the bucketed
    window), one broadcast; the 5-column hash/count projection is persisted
    because it feeds both the offsets aggregate and the main join (without
    it the regex token count would run twice per invocation)."""
    if isinstance(budgets, int):
        if budgets < 0:
            raise ValueError(f"budget must be >= 0, got {budgets}")
        budget_for = F.lit(int(budgets))
    else:
        for g, b in budgets.items():
            if b < 0:
                raise ValueError(f"budget for group {g!r} must be >= 0, got {b}")
        mapping = F.create_map(
            *[
                lit
                for g, b in sorted(budgets.items())
                for lit in (F.lit(g), F.lit(int(b)))
            ]
        )
        budget_for = mapping[F.col(group_col)]
    pre = _hash_order_prefix(
        df, text_col, F.col(group_col).alias(group_col), id_col,
        f"tb{seed}_", buckets,
    )
    return (
        pre.select(
            id_col,
            group_col,
            "n_tokens",
            "cum_before",
            budget_for.alias("_budget"),
        )
        .filter(F.col("_budget").isNotNull())
        .select(
            id_col,
            group_col,
            "n_tokens",
            "cum_before",
            (F.col("cum_before") < F.col("_budget")).alias("kept"),
        )
    )


def _hash_order_prefix(
    df: DataFrame,
    text_col: str,
    group_expr: Column,
    id_col: str,
    seed_prefix: str,
    buckets: int,
) -> DataFrame:
    """(``id_col``, <group>, n_tokens, cum_before): each row's token count
    plus the running total over all hash-earlier rows of its group — the
    bucketed distributed prefix sum shared by token_budget_fill and
    pack_sequences (see token_budget_fill's docstring for why this is NOT
    one window per group).  The 5-column projection is persisted: it feeds
    both the offsets aggregate and the main join."""
    from .hashing import MERSENNE_P
    from .text import token_count

    hv = h32(F.concat(F.lit(seed_prefix), F.col(id_col).cast("string")))
    base = persist(
        df.select(
            F.col(id_col),
            group_expr,
            token_count(F.col(text_col)).cast("long").alias("n_tokens"),
            hv.alias("_h"),
            F.floor(hv * F.lit(buckets) / F.lit(MERSENNE_P)).alias("_b"),
        )
    )
    gname = base.columns[1]
    offw = (
        Window.partitionBy(gname)
        .orderBy("_b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = (
        base.groupBy(gname, "_b")
        .agg(F.sum("n_tokens").alias("_s"))
        .select(
            gname,
            "_b",
            F.coalesce(F.sum("_s").over(offw), F.lit(0)).alias("_off"),
        )
    )
    inw = (
        Window.partitionBy(gname, "_b")
        .orderBy("_h", id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return base.join(F.broadcast(offsets), on=[gname, "_b"]).select(
        id_col,
        gname,
        "n_tokens",
        (F.col("_off") + F.coalesce(F.sum("n_tokens").over(inw), F.lit(0)))
        .cast("long")
        .alias("cum_before"),
    )


def pack_sequences(
    df: DataFrame,
    seq_len: int = 2048,
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: int = 7,
    buckets: int = 32,
) -> DataFrame:
    """Fixed-length sequence packing — the canonical pretraining layout:
    documents concatenate in seeded-hash order into back-to-back windows of
    exactly ``seq_len`` tokens (documents SPLIT across window boundaries,
    nothing is padded or dropped), and each document learns where it landed:

    (``id_col``, n_tokens, cum_before, seq_first, seq_last, seq_offset) —
    seq_first/seq_last the first/last window the document's tokens touch
    (floor division of the global token prefix sum), seq_offset its start
    position inside seq_first.  A training loader can materialize any
    window w by reading the docs with seq_first <= w <= seq_last — the
    assignment is a pure function of the corpus, so shards of the mapping
    can be built independently anywhere.

    Zero-token documents contribute nothing but still get an address: the
    window containing the boundary position max(cum_before − 1, 0) — i.e.
    they attach to the window of the token that precedes them in pack
    order.  (Giving them a phantom 1-token extent instead would let an
    empty doc landing on the final seq_len boundary claim a window one
    PAST the last real one — an index no loader can materialize.)  The one
    remaining degenerate case is a corpus with ZERO tokens anywhere: every
    doc then addresses window 0 of a corpus that has no windows — vacuous
    by construction (there is nothing to load), not resolvable by any
    address scheme.

    Scale shape: the same bucketed distributed prefix sum as
    token_budget_fill (no single-task global window); everything after the
    prefix sum is arithmetic.  ``seq_len`` must be positive."""
    if seq_len <= 0:
        raise ValueError(f"seq_len must be positive, got {seq_len}")
    pre = _hash_order_prefix(
        df, text_col, F.lit("_all").alias("_g"), id_col, f"ps{seed}_", buckets
    )
    nonempty = F.col("n_tokens") > 0
    first_pos = F.when(nonempty, F.col("cum_before")).otherwise(
        F.greatest(F.col("cum_before") - 1, F.lit(0))
    )
    last_pos = F.when(
        nonempty, F.col("cum_before") + F.col("n_tokens") - 1
    ).otherwise(first_pos)
    return pre.select(
        id_col,
        "n_tokens",
        "cum_before",
        F.floor(first_pos / seq_len).cast("long").alias("seq_first"),
        F.floor(last_pos / seq_len).cast("long").alias("seq_last"),
        (first_pos % seq_len).cast("long").alias("seq_offset"),
    )


def temperature_mix_sample(
    df: DataFrame,
    group_col: str = "source",
    id_col: str = "doc_id",
    alpha: float = 0.5,
    seed: int = 7,
) -> DataFrame:
    """Temperature-scaled domain rebalancing — the multilingual/multi-domain
    mixing rule (UniMax / mT5-style sampling): downsample each group so kept
    counts are proportional to n_g^alpha instead of n_g, flattening the head
    of the domain distribution toward the tail.  Unlike ``stratified_sample``
    the keep rates are DERIVED FROM THE DATA — rate_g = (n_min/n_g)^(1-alpha),
    which is 1 for the smallest group (never upsampled, never dropped) and
    shrinks head groups until every group sits at the same temperature.

    alpha = 1 keeps everything; alpha = 0 equalizes all groups to ~n_min;
    the default 0.5 is square-root scaling, computed with ``sqrt`` —
    EXACTLY rounded under IEEE 754 in every engine, so the basis-point
    thresholds (and therefore the kept set) are bit-identical between Spark
    and the DuckDB oracle.  Other alphas go through ``pow``, which libm
    implementations only guarantee to ~1 ulp; a threshold landing exactly
    on a hash value could then differ across engines — fine for production
    mixing, but the registry/oracle entry pins alpha = 0.5.

    Per row, keep ⇔ h32("tm{seed}_" + id) mod 10000 < floor(rate_g · 10000)
    — the same reproducible, monotone, engine-portable predicate as
    stratified_sample.

    Output: kept rows as (``id_col``, <group>, n_group, thresh_bp).

    Scale shape: one map-side-combined count aggregate over ≤ |groups| keys,
    the minimum via an unpartitioned window over that tiny relation (never a
    driver collect), thresholds broadcast-joined back onto the scan — the
    corpus itself never shuffles."""
    if not 0.0 <= alpha <= 1.0:
        raise ValueError(f"alpha must be in [0, 1], got {alpha}")
    counts = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("n_group"))
    n_min = F.min("n_group").over(Window.partitionBy())
    ratio = n_min.cast("double") / F.col("n_group").cast("double")
    rate = F.sqrt(ratio) if alpha == 0.5 else F.pow(ratio, F.lit(1.0 - alpha))
    thresh = counts.select(
        group_col,
        "n_group",
        F.floor(F.lit(10000) * rate).cast("long").alias("thresh_bp"),
    )
    hv = h32(F.concat(F.lit(f"tm{seed}_"), F.col(id_col).cast("string"))) % 10000
    return (
        df.join(F.broadcast(thresh), on=group_col)
        .filter(hv < F.col("thresh_bp"))
        .select(id_col, group_col, "n_group", "thresh_bp")
    )


def exact_global_rank(
    df: DataFrame,
    order_cols: list,
    buckets: int = 32,
    rank_col: str = "_rank",
    n_col: str = "_n",
) -> DataFrame:
    """Exact 1-based GLOBAL rank by ``order_cols`` without a single-task
    sort — the shared distributed-order-statistic core under
    text.exact_ntile (decile diagnostics) and dq.exact_quantiles:
    ``repartitionByRange`` on the sort key spreads the sort across the
    cluster (range partition i holds keys strictly below partition i+1's);
    per-partition row counts — a ``buckets``-row relation — get a prefix
    sum + total via one tiny unpartitioned window; broadcasting those
    offsets back turns each row's per-partition ``row_number`` into its
    exact global rank.  Adds ``rank_col`` and ``n_col`` (total rows) to
    the input columns.

    The composite sort key MUST be unique (callers append an id
    tiebreaker): range partitioning fixes only the BETWEEN-partition
    order, per-partition ``row_number`` the within-partition order —
    unique keys make both total, hence the rank deterministic and
    bit-identical to any engine's ``row_number() OVER (ORDER BY ...)``.
    The only single-partition exchange feeds the ``buckets``-row counts
    aggregate, never the input relation (plan-locked in test_plans.py)."""
    cols = [F.col(c) for c in order_cols]
    part = df.repartitionByRange(buckets, *cols).withColumn(
        "_egr_pid", F.spark_partition_id()
    )
    offw = Window.orderBy("_egr_pid").rowsBetween(Window.unboundedPreceding, -1)
    totw = Window.orderBy("_egr_pid").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    offsets = (
        part.groupBy("_egr_pid")
        .agg(F.count("*").cast("long").alias("_egr_c"))
        .select(
            "_egr_pid",
            F.coalesce(F.sum("_egr_c").over(offw), F.lit(0)).alias("_egr_off"),
            F.sum("_egr_c").over(totw).alias(n_col),
        )
    )
    inw = Window.partitionBy("_egr_pid").orderBy(*cols)
    return (
        part.join(F.broadcast(offsets), "_egr_pid")
        .withColumn(
            rank_col,
            F.col("_egr_off") + F.row_number().over(inw).cast("long"),
        )
        .drop("_egr_pid", "_egr_off")
    )


def pii_scan_report(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "lang",
) -> DataFrame:
    """PII exposure REPORT — the audit tier above ``redact_pii``: before a
    corpus ships, compliance wants counts per PII class per corpus slice
    (which languages / sources leak emails? how many documents are
    affected vs how many raw hits?), not just the redacted text.  Shares
    ``redact_pii``'s exact regexes so the report and the redaction can
    never disagree about what counts as PII.

    Output: (``group_col``, pii_class, n_docs, n_hits) — one row per
    (slice, class), n_docs = documents with >= 1 hit, n_hits = total
    matches.

    Scale shape: the regex counts run inside codegen at the scan
    (identical expressions to redact_pii); stack() longifies the two
    per-class columns WITHOUT a second scan; one map-side-combined
    aggregate over |slices|·|classes| keys."""
    per = df.select(
        group_col,
        F.size(
            F.regexp_extract_all(F.col(text_col), F.lit(EMAIL_RE), 0)
        ).alias("_email"),
        F.size(
            F.regexp_extract_all(F.col(text_col), F.lit(LONG_DIGITS_RE), 0)
        ).alias("_long_number"),
    )
    stacked = per.select(
        group_col,
        F.expr(
            "stack(2, 'email', _email, 'long_number', _long_number)"
            " as (pii_class, _hits)"
        ),
    )
    return stacked.groupBy(group_col, "pii_class").agg(
        F.sum((F.col("_hits") > 0).cast("long")).alias("n_docs"),
        F.sum("_hits").cast("long").alias("n_hits"),
    )


def stratified_split(
    df: DataFrame,
    id_col: str = "doc_id",
    stratum_col: str = "lang",
    train_pct: int = 80,
    val_pct: int = 10,
) -> DataFrame:
    """EXACT-quota stratified train/val/test split — the evaluation-fairness
    twin of ``split_assign``: hash splitting gives each stratum only
    EXPECTED proportions (a 200-doc language can land 72/28 by luck),
    while benchmark construction wants every stratum cut at exactly
    ceil(n·pct/100).  Rows rank within their stratum by a salted
    deterministic hash (reproducible across runs/engines/layouts, and
    decorrelated from split_assign's buckets), and integer-exact
    boundaries assign train/val/test.

    Output: (``id_col``, ``stratum_col``, split).

    Scale shape: ONE hash shuffle on the stratum + a per-stratum window
    (count + row_number share the sort).  The window is per-STRATUM, so
    partitions are bounded by stratum size, not corpus size — fine for
    language/source strata (dozens to hundreds); for an unbounded stratum
    column or a heavily skewed giant stratum, fall back to the hash split
    (exactness at that scale costs a skewed sort; the trade is the point
    of having both verbs)."""
    from .hashing import h32

    w = Window.partitionBy(stratum_col).orderBy(
        h32(F.concat(F.lit("strat_"), F.col(id_col).cast("string"))),
        F.col(id_col),
    )
    cnt = Window.partitionBy(stratum_col)
    rank = F.row_number().over(w)
    n = F.count("*").over(cnt)
    # ceil(n·pct/100) in exact integer arithmetic: (n·pct + 99) div 100
    train_cut = F.floor((n * train_pct + 99) / 100)
    val_cut = F.floor((n * (train_pct + val_pct) + 99) / 100)
    return df.select(
        id_col,
        stratum_col,
        F.when(rank <= train_cut, "train")
        .when(rank <= val_cut, "val")
        .otherwise("test")
        .alias("split"),
    )


def split_balance_report(
    assigned: DataFrame,
    split_col: str = "split",
    stratum_col: str = "lang",
    tol: float = 0.02,
) -> DataFrame:
    """Composition-fairness audit of a train/val/test assignment: per
    (split, stratum) cell, the stratum's share WITHIN the split vs its
    share of the whole corpus, the gap between the two, and a tolerance
    flag — the check that a split rule (or a legacy re-hash of one
    subset) did not quietly skew what each split is made of.

    The cell spine is the cross of the OBSERVED splits × OBSERVED strata,
    so a stratum entirely missing from a split — the catastrophic form of
    the bug — appears as an explicit zero row (split_share 0, gap
    −corpus_share, flagged) instead of silently not existing.

    Exactness: every count is an exact integer; each share is one
    long/double division on identical integers in any engine, rounded to
    6, with the flag computed from the UNROUNDED gap.

    Scale shape: one map-side-combined groupBy collapses the corpus to
    |splits|×|strata| cells; the spine cross-join and every share window
    run on that bounded relation (label vocabularies, not corpus rows) —
    the corpus is scanned once, pruned to two columns.  The cells
    relation feeds THREE consumers (the spine's two distinct sides plus
    the join back), so it is persisted — uncached, the corpus-wide count
    aggregate would re-run per consumer (the r12 wave-4 plan lock caught
    exactly that: three parquet scans in the first cut)."""
    cells = persist(
        assigned.groupBy(F.col(split_col), F.col(stratum_col)).agg(
            F.count("*").cast("long").alias("_n")
        )
    )
    splits = cells.select(split_col).distinct()
    strata = cells.select(stratum_col).distinct()
    full = (
        splits.crossJoin(strata)
        .join(cells, [split_col, stratum_col], "left")
        .select(
            split_col,
            stratum_col,
            F.coalesce(F.col("_n"), F.lit(0)).cast("long").alias("n_docs"),
        )
    )
    w_split = Window.partitionBy(split_col)
    w_strat = Window.partitionBy(stratum_col)
    w_all = Window.partitionBy()
    split_share = F.col("n_docs") / F.sum("n_docs").over(w_split).cast(
        "double"
    )
    corpus_share = (
        F.sum("n_docs").over(w_strat) / F.sum("n_docs").over(w_all).cast("double")
    )
    gap = split_share - corpus_share
    return full.select(
        split_col,
        stratum_col,
        "n_docs",
        F.round(split_share, 6).alias("split_share"),
        F.round(corpus_share, 6).alias("corpus_share"),
        F.round(gap, 6).alias("gap"),
        (F.abs(gap) > tol).cast("long").alias("flagged"),
    )
