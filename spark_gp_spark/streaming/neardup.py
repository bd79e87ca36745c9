"""Streaming near-duplicate detection: MinHash-LSH over a document STREAM.

Batch near-dup (operators/dedup.py) sees the whole corpus at once; a
streaming ingest pipeline instead needs to answer, per arriving document,
"have I already accepted a near-duplicate of this?"  Spark's built-in
streaming dedup (`dropDuplicatesWithinWatermark`) is exact-key only, so this
is the custom-state shape: the MinHash signature is a pure projection
(engine-portable md5 family, the SAME expression as the batch operator), the
stream is keyed by LSH (band, key) bucket, and an ``applyInPandasWithState``
state machine keeps the MINIMUM doc id seen per bucket — one bigint per
bucket, the smallest state that answers "earliest prior collider".

Emission: a document colliding with an earlier document in ≥ 1 band emits
one (doc_id, dup_of = bucket-min-so-far) row per colliding band; the
min-per-doc over those emissions is the EARLIEST prior near-dup candidate.
With id-ordered staged arrivals (repartitionByRange on the id) the emitted
relation is a pure function of the data:

    dup_of(d) = min{ d' < d : d' shares ≥ 1 LSH band with d }

which the batch oracle states over the same banding CTEs the
``minhash_lsh_pairs`` oracle already uses.

Scale shape: one shuffle on (band, key); state is one long per DISTINCT
bucket — orders of magnitude smaller than the corpus.  On an unbounded
stream, bucket-count growth is bounded by passing ``ttl_ms``: a
processing-time timeout drops buckets that have gone cold for that long
(an explicit recall trade — a duplicate arriving later than the TTL after
its original is no longer detected).  The finite-corpus harness runs
without a TTL; tests/test_streaming_neardup.py exercises expiry.
"""

from __future__ import annotations

import os
import tempfile
from typing import Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import telemetry
from ..operators.dedup import minhash_band_struct, minhash_staged_cols
from .events import (
    _arrive_dir_atomically,
    _drive_append_query,
    _no_nodata_batches,
    _staged_arrivals,
    _state_partitions,
)

NEARDUP_OUT_SCHEMA = "doc_id bigint, dup_of bigint"

#: State-store metrics of the LAST run_streaming_neardup_join drive —
#: numRowsRemoved summed over every micro-batch's state operators.  The
#: bounded-horizon variant's whole point is evictable join state; tests
#: assert removal actually happened here rather than trusting the plan.
LAST_JOIN_STATE_METRICS: dict = {}
NEARDUP_STATE_SCHEMA = "min_id bigint, last_ms bigint"
#: sharded machine: one state row per SHARD holding parallel arrays over its
#: live buckets (bucket key, running min id, running max event ms, expiry
#: deadline ms)
NEARDUP_SHARD_STATE_SCHEMA = (
    "bks array<string>, min_ids array<long>, lasts array<long>, deadlines array<long>"
)
#: default shard count: bounds the number of applyInPandasWithState GROUPS
#: (each group invocation costs ~0.9 ms of Arrow/pandas overhead regardless
#: of its row count — r9 measured 17-23 s at sf0.1 for ~10k single-bucket
#: groups/batch); 256 shards amortize that overhead ~40× while per-shard
#: state stays a small dict.  Scale by cluster width in production.
NEARDUP_SHARDS = 256


def _make_neardup_state_func(ttl_ms: int | None, event_time: bool = False):
    """Per-(band, key) state machine factory: emit (doc, bucket-min-so-far)
    for every doc with an earlier collider; carry the running min doc id
    AND the bucket's running max event time (epoch ms; 0 when the stream
    carries no event time).  With ``ttl_ms``, a cold bucket is dropped on
    timeout (hasTimedOut), bounding state on unbounded streams;
    ``event_time`` switches the deadline from a processing-time duration to
    an EVENT-time timestamp (bucket max event time + ttl), fired when the
    WATERMARK passes it — the replayable, wall-clock-free expiry (see
    streaming_neardup_matches).  The deadline derives from the RUNNING max
    (not the current micro-batch's max): a batch containing only late,
    older-event-time rows must never move the deadline backwards and
    expire the bucket earlier than 'max event time + ttl'."""

    def func(
        key: Tuple, pdf_iter: Iterator[pd.DataFrame], state
    ) -> Iterator[pd.DataFrame]:
        if ttl_ms is not None and state.hasTimedOut:
            state.remove()
            yield pd.DataFrame(
                {"doc_id": pd.Series(dtype="int64"),
                 "dup_of": pd.Series(dtype="int64")}
            )
            return
        cur = int(state.get[0]) if state.exists else None
        prior_last = int(state.get[1]) if state.exists else 0
        pdf = pd.concat(list(pdf_iter), ignore_index=True)
        out: list[tuple[int, int]] = []
        for d in sorted(int(x) for x in pdf["_id"]):
            if cur is not None and cur < d:
                out.append((d, cur))
            cur = d if cur is None else min(cur, d)
        last_ms = prior_last
        if event_time:
            batch_ms = int(pd.Series(pdf["_ts"]).max().value // 1_000_000)
            last_ms = max(prior_last, batch_ms)
        state.update((int(cur), int(last_ms)))
        if ttl_ms is not None:
            if event_time:
                # deadline = bucket's RUNNING max event time + TTL; the
                # engine fires it when the watermark passes — clamped one
                # ms above the current watermark so a bucket fed entirely
                # by late data expires on the NEXT watermark advance
                # instead of crashing setTimeoutTimestamp's
                # timestamp<=watermark check
                wm = state.getCurrentWatermarkMs()
                state.setTimeoutTimestamp(max(last_ms + ttl_ms, wm + 1))
            else:
                state.setTimeoutDuration(ttl_ms)
        yield pd.DataFrame(out, columns=["doc_id", "dup_of"]).astype("int64")

    return func


def _make_sharded_neardup_state_func(ttl_ms: int | None, event_time: bool):
    """SHARDED bucket-map state machine: one group per hash shard, holding a
    dict {bucket → (running min id, running max event ms, deadline ms)} as
    parallel state arrays.  Emission semantics are IDENTICAL to the
    per-bucket machine (emit (doc, bucket-min-so-far) per colliding row,
    rows processed in ascending id order), and so is event-time expiry:

    - per-bucket deadline = max(running-max event ms + ttl, wm_at_update+1)
      — the same re-arm (including the late-data clamp) the per-bucket
      machine sets via setTimeoutTimestamp;
    - a bucket is dropped when the EVICTION watermark strictly exceeds its
      deadline, checked (a) on every data invocation of its shard BEFORE
      rows apply (the per-bucket engine would have fired its timeout in the
      preceding timeout-only batch, which runs with the same watermark) and
      (b) on the shard's own group timeout, armed at the min live deadline
      (pure garbage collection — expiry is only ever OBSERVABLE via (a)).

    Why sharding: the engine pays a fixed per-GROUP Arrow/pandas invocation,
    and LSH bucket keys are nearly unique — ~10k groups per micro-batch at
    sf0.1 cost 17-23 s of pure overhead.  NEARDUP_SHARDS groups amortize it
    while state volume (one entry per live bucket) is unchanged.
    ProcessingTimeTimeout keeps the per-bucket machine (a shard-level wall
    clock cannot expire buckets individually)."""

    def func(
        key: Tuple, pdf_iter: Iterator[pd.DataFrame], state
    ) -> Iterator[pd.DataFrame]:
        expiring = ttl_ms is not None and event_time
        wm = state.getCurrentWatermarkMs() if expiring else 0
        if state.exists:
            g = state.get
            st = {
                b: [int(m), int(l), int(dl)]
                for b, m, l, dl in zip(g[0], g[1], g[2], g[3])
            }
        else:
            st = {}
        if expiring:
            # strict <, mirroring FlatMapGroupsWithState's timeout predicate
            st = {b: v for b, v in st.items() if not v[2] < wm}
        if state.hasTimedOut:
            if st:
                state.update(_pack_shard_state(st))
                state.setTimeoutTimestamp(
                    max(min(v[2] for v in st.values()), wm + 1)
                )
            else:
                state.remove()
            yield pd.DataFrame(
                {"doc_id": pd.Series(dtype="int64"),
                 "dup_of": pd.Series(dtype="int64")}
            )
            return
        pdf = pd.concat(list(pdf_iter), ignore_index=True)
        order = pdf["_id"].astype("int64").argsort(kind="stable")
        ids = pdf["_id"].astype("int64").to_numpy()[order]
        bkts = pdf["_bkt"].to_numpy()[order]
        if event_time:
            ts_ms = (pdf["_ts"].astype("int64").to_numpy() // 1_000_000)[order]
        out: list[tuple[int, int]] = []
        touched = set()
        for i in range(len(ids)):
            d = int(ids[i])
            b = bkts[i]
            ent = st.get(b)
            if ent is None:
                ent = st[b] = [d, 0, 0]
            else:
                if ent[0] < d:
                    out.append((d, ent[0]))
                ent[0] = min(ent[0], d)
            if event_time:
                ent[1] = max(ent[1], int(ts_ms[i]))
            touched.add(b)
        if expiring:
            for b in touched:
                st[b][2] = max(st[b][1] + ttl_ms, wm + 1)
        state.update(_pack_shard_state(st))
        if expiring:
            state.setTimeoutTimestamp(
                max(min(v[2] for v in st.values()), wm + 1)
            )
        yield pd.DataFrame(out, columns=["doc_id", "dup_of"]).astype("int64")

    return func


def _pack_shard_state(st: dict) -> tuple:
    bks = list(st.keys())
    return (
        bks,
        [st[b][0] for b in bks],
        [st[b][1] for b in bks],
        [st[b][2] for b in bks],
    )


def streaming_neardup_matches(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    seed: int = 7,
    ttl_ms: int | None = None,
    ts_col: str | None = None,
    watermark_delay: str = "0 seconds",
) -> DataFrame:
    """Per-band match log over a (streaming) documents frame: one
    (doc_id, dup_of) row per band collision with an earlier document.
    ``ttl_ms`` bounds state on unbounded streams by expiring cold buckets
    (trades recall for bounded state — see module docstring), in one of
    two clocks:

    - ``ts_col=None`` (processing time): a bucket idle for ``ttl_ms`` of
      WALL time is dropped.  Driving caveat: ProcessingTimeTimeout makes
      the stateful operator report shouldRunAnotherBatch unconditionally,
      so under the default ASAP trigger the engine runs continuous no-data
      micro-batches and ``processAllAvailable()`` never returns —
      production streams should use a processing-time trigger sized to the
      TTL and synchronize on progress (tests/test_streaming_neardup.py).
    - ``ts_col`` given (EVENT time — the production-shaped choice for
      replayable streams): the stream is watermarked on ``ts_col`` with
      ``watermark_delay``, and a bucket expires when the watermark passes
      its max event time + ``ttl_ms``.  Expiry is a pure function of the
      DATA and the micro-batch boundaries — replays reproduce it, no
      wall clock involved — and the engine only reruns batches while the
      watermark advances, so ``processAllAvailable()`` terminates
      normally (no recentProgress polling, no sleeps)."""
    event_time = ts_col is not None
    if event_time:
        docs = docs.withWatermark(ts_col, watermark_delay)
    # STAGE the whole signature pipeline (tokens → shingles → base hashes →
    # signature) as separate projections, exactly like the batch
    # _minhash_staged: a folded minhash_signature expression re-evaluates
    # the tokenizer O(shingle_n · n_tokens) times per row (the Catalyst
    # re-inlining trap; r13 plan capture showed split(lower(text)) inlined
    # 3× per shingle element), and the band struct additionally references
    # the signature 16 times
    keyed = docs.select(
        F.col(id_col).alias("_id"),
        *([F.col(ts_col).alias("_ts")] if event_time else []),
        F.col(text_col).alias("_text"),
    )
    staged = minhash_staged_cols(
        keyed, "_text",
        keep=["_id"] + (["_ts"] if event_time else []),
        num_hashes=num_hashes, shingle_n=shingle_n, seed=seed,
    )
    banded = staged.select(
        "_id",
        *(["_ts"] if event_time else []),
        minhash_band_struct(F.col("sig"), num_hashes, bands).alias("bk"),
    ).select(
        "_id",
        *(["_ts"] if event_time else []),
        F.col("bk.band").alias("band"),
        F.col("bk.key").alias("key"),
    )
    if event_time:
        timeout_conf = "EventTimeTimeout" if ttl_ms is not None else "NoTimeout"
    else:
        timeout_conf = "ProcessingTimeTimeout" if ttl_ms is not None else "NoTimeout"
    if timeout_conf != "ProcessingTimeTimeout":
        # sharded bucket-map machine (see _make_sharded_neardup_state_func):
        # same emissions and expiry, ~NEARDUP_SHARDS groups instead of one
        # per (band, key).  The '#'-joined _bkt encoding is injective for
        # ANY key alphabet — band is an integer cast to string, so it can
        # never contain '#', and the first '#' therefore always delimits
        # the band prefix; _bkt is only ever used as an opaque dict key
        # (never split back), so distinct (band, key) pairs can never
        # merge even if a future key format introduces '#' (ADVICE r9).
        sharded = banded.select(
            "_id",
            *(["_ts"] if event_time else []),
            F.concat_ws("#", F.col("band").cast("string"), F.col("key")).alias(
                "_bkt"
            ),
        ).withColumn("_shard", F.pmod(F.crc32("_bkt"), F.lit(NEARDUP_SHARDS)))
        return sharded.groupBy("_shard").applyInPandasWithState(
            _make_sharded_neardup_state_func(ttl_ms, event_time=event_time),
            outputStructType=NEARDUP_OUT_SCHEMA,
            stateStructType=NEARDUP_SHARD_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=timeout_conf,
        )
    return banded.groupBy("band", "key").applyInPandasWithState(
        _make_neardup_state_func(ttl_ms, event_time=event_time),
        outputStructType=NEARDUP_OUT_SCHEMA,
        stateStructType=NEARDUP_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=timeout_conf,
    )


def streaming_embedding_neardup_matches(
    vecs: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    bits: int = 6,
    tables: int = 8,
    seed: int = 11,
    dim: int = 64,
    ttl_ms: int | None = None,
    ts_col: str | None = None,
    watermark_delay: str = "0 seconds",
) -> DataFrame:
    """Per-table match log over a (streaming) VECTOR frame — the dense-
    embedding twin of the MinHash path above: buckets come from multi-table
    sign-LSH (the same seeded hyperplanes as batch
    similarity.lsh_candidate_pairs, Arrow-batched projection), the stream
    is keyed by (table, bucket), and the IDENTICAL bucket-min state
    machine answers "have I already accepted an embedding that collides
    with this one?" per arriving vector.  One (doc_id=vec id, dup_of) row
    per colliding table; min-per-id over the log is the earliest prior
    near-dup candidate:

        dup_of(v) = min{ v' < v : v' shares ≥ 1 (table, bucket) with v }

    — stated by the batch oracle over the same baked-hyperplane bucket
    CTEs the ``embedding_neardup_pairs`` oracle uses.  Scale shape: only
    (id, tbl, bucket) rides the shuffle (vectors never leave the
    projection); state is one long per DISTINCT (table, bucket) —
    tables·2^bits entries at most.  ``ttl_ms``/``ts_col`` select the same
    processing-time or event-time expiry as the MinHash variant."""
    event_time = ts_col is not None
    if event_time:
        vecs = vecs.withWatermark(ts_col, watermark_delay)
    from ..operators.similarity import _bucket_udf, hyperplane_tables

    udf = _bucket_udf(hyperplane_tables(dim, bits, tables, seed))
    dotted = vecs.select(
        F.col(id_col).alias("_id"),
        *([F.col(ts_col).alias("_ts")] if event_time else []),
        udf(F.col(vec_col).cast("array<double>")).alias("_b"),
    )
    banded = dotted.select(
        "_id",
        *(["_ts"] if event_time else []),
        F.posexplode(F.col("_b")).alias("tbl", "bucket"),
    )
    if event_time:
        timeout_conf = "EventTimeTimeout" if ttl_ms is not None else "NoTimeout"
    else:
        timeout_conf = "ProcessingTimeTimeout" if ttl_ms is not None else "NoTimeout"
    if timeout_conf != "ProcessingTimeTimeout":
        # both segments are integer casts, so the '#'-joined encoding is
        # trivially injective (same argument as the MinHash path above)
        sharded = banded.select(
            "_id",
            *(["_ts"] if event_time else []),
            F.concat_ws(
                "#", F.col("tbl").cast("string"), F.col("bucket").cast("string")
            ).alias("_bkt"),
        ).withColumn("_shard", F.pmod(F.crc32("_bkt"), F.lit(NEARDUP_SHARDS)))
        return sharded.groupBy("_shard").applyInPandasWithState(
            _make_sharded_neardup_state_func(ttl_ms, event_time=event_time),
            outputStructType=NEARDUP_OUT_SCHEMA,
            stateStructType=NEARDUP_SHARD_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=timeout_conf,
        )
    return banded.groupBy("tbl", "bucket").applyInPandasWithState(
        _make_neardup_state_func(ttl_ms, event_time=event_time),
        outputStructType=NEARDUP_OUT_SCHEMA,
        stateStructType=NEARDUP_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=timeout_conf,
    )


def run_streaming_embedding_neardup(
    spark: SparkSession,
    sf_dir: str,
    bits: int = 6,
    tables: int = 8,
    seed: int = 11,
    dim: int = 64,
    query_name: str = "gp_stream_vec_neardup",
    n_files: int = 2,
) -> DataFrame:
    """Drive the embeddings parquet through the streaming vector near-dup
    operator: id-range staged arrivals (arrival order == id order), per-
    table match log into a parquet sink, then the batch min-per-id summary
    (vec_id, dup_of)."""
    work = tempfile.mkdtemp(prefix="gp_stream_vec_neardup_")
    sink, ckpt = os.path.join(work, "sink"), os.path.join(work, "ckpt")
    src, arrivals, schema = _staged_arrivals(
        spark, sf_dir, work, n_files, sentinel=False,
        table="embeddings", order_col="vec_id",
    )
    stream = spark.readStream.schema(schema).parquet(src)
    matches = streaming_embedding_neardup_matches(
        stream, bits=bits, tables=tables, seed=seed, dim=dim
    )
    # no TTL is armed here, so no-data batches only re-commit stores
    with _state_partitions(spark), _no_nodata_batches(spark):
        q = (
            matches.writeStream.outputMode("append")
            .format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .queryName(query_name)
            .start()
        )
        _drive_append_query(q, src, arrivals)
    log = spark.read.schema(NEARDUP_OUT_SCHEMA).parquet(sink)
    return (
        log.groupBy("doc_id")
        .agg(F.min("dup_of").alias("dup_of"))
        .select(F.col("doc_id").alias("vec_id"), "dup_of")
    )


#: epoch base for the synthesized per-doc event time in the event-time
#: registry harness: ts(doc) = _TS_EPOCH + doc_id seconds — a pure function
#: of the data both engines can state.
_TS_EPOCH = 1_600_000_000


def expiry_plan(lo: int, hi: int) -> tuple[int, int, int]:
    """(c1, c2, ttl_ms) for the deterministic expiry harness, derived purely
    from the corpus id span so the DuckDB oracle can restate them: three
    id-range batches cut at lo + (hi−lo)//3 and lo + 2·(hi−lo)//3, and a TTL
    of half a batch's event-time span ((hi−lo)//6 seconds).  With
    ts(doc) = _TS_EPOCH + doc_id and a 0-delay watermark, a bucket whose
    last member sits in the early half of a batch and that stays idle
    through the NEXT batch is guaranteed to expire before it is re-touched:
    the watermark advances by a full batch span (≈ 2·ttl) while its
    deadline only reaches last_ts + ttl."""
    span = hi - lo
    return lo + span // 3, lo + 2 * span // 3, (span // 6) * 1000


def run_streaming_neardup_expiry(
    spark: SparkSession,
    sf_dir: str,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    seed: int = 7,
    query_name: str = "gp_stream_neardup_expiry",
) -> DataFrame:
    """The deterministic EXPIRY-FIRING event-time TTL harness (SURVEY §7
    round-8 worked design): unlike ``run_streaming_neardup``'s
    repartitionByRange staging (whose sampled boundaries an oracle cannot
    restate), the three arrival files here are EXPLICIT id-range batches cut
    by ``expiry_plan`` — a CASE expression both engines share — and the TTL
    is ~half a batch's event-time span, so buckets last touched early in a
    batch and idle through the following batch provably expire before their
    re-arrivals, which then emit against a FRESH session.

    Expiry semantics being exercised (GroupState EventTimeTimeout): a
    bucket's deadline is its running-max event time + ttl; the engine fires
    it in a micro-batch where the bucket has NO data and the eviction
    watermark W (max event ts over completed batches, 0 delay) exceeds the
    deadline strictly.  Because arrivals are driven one file at a time with
    ``processAllAvailable`` (timeout-only batches run between files), state
    survives from activity batch ja to the next activity batch jb iff
    W(jb−1) ≤ maxts(bucket ≤ ja) + ttl — the exact session rule the DuckDB
    oracle states with lag + cumulative-sum session ids over per-
    (bucket, batch) max aggregates.  tests/test_streaming_neardup.py
    asserts the emitted relation DIFFERS from the no-TTL oracle on a
    nonempty set (proof the timeout branch fired in the official entry)."""
    with telemetry.span("streaming_neardup_expiry", "stage_and_start"):
        work = tempfile.mkdtemp(prefix="gp_stream_neardup_exp_")
        sink, ckpt = os.path.join(work, "sink"), os.path.join(work, "ckpt")
        src = os.path.join(work, "src")
        os.makedirs(src)
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        lo, hi = docs.agg(F.min("doc_id"), F.max("doc_id")).first()
        c1, c2, ttl_ms = expiry_plan(int(lo), int(hi))
        # stage all three id-range batches in ONE partitioned write (a
        # coalesce(1) per batch would serialize three full corpus scans onto
        # one task each — measured 3× the staging cost at sf0.1); partitionBy
        # keeps _b out of the stored files, so arrivals carry the plain doc
        # schema
        staged = os.path.join(work, "staged")
        docs.withColumn(
            "_b",
            F.when(F.col("doc_id") <= c1, 1)
            .when(F.col("doc_id") <= c2, 2)
            .otherwise(3),
        ).repartition(3, "_b").write.partitionBy("_b").parquet(staged)
        arrivals = []
        for j in (1, 2, 3):
            d = os.path.join(staged, f"_b={j}")
            arrivals.append(
                sorted(
                    os.path.join(d, f)
                    for f in os.listdir(d)
                    if f.endswith(".parquet")
                )
            )
        # the source watches the glob <src>/* so each id-range arrival can be
        # a SUBDIRECTORY renamed in with one atomic syscall — a listing can
        # never observe a partial or split multi-file arrival (r10 review; the
        # per-file rename variant still had a between-renames split window)
        stream = (
            spark.readStream.schema(docs.schema)
            .parquet(os.path.join(src, "*"))
            .withColumn(
                "_event_ts", F.timestamp_seconds(F.lit(_TS_EPOCH) + F.col("doc_id"))
            )
        )
        matches = streaming_neardup_matches(
            stream, num_hashes=num_hashes, bands=bands, shingle_n=shingle_n, seed=seed,
            ttl_ms=ttl_ms, ts_col="_event_ts",
        )
        with _state_partitions(spark):
            q = (
                matches.writeStream.outputMode("append")
                .format("parquet")
                .option("path", sink)
                .option("checkpointLocation", ckpt)
                .queryName(query_name)
                .start()
            )
    # one micro-batch per id-range batch (an arrival may span several part
    # files — stage them in a hidden dir, rename the DIR in atomically,
    # then drain, so the batch boundary stays the CASE cut the session
    # oracle restates, regardless of trigger timing)
    try:
        for j, paths in enumerate(arrivals):
            _arrive_dir_atomically(src, f"arrival-{j:02d}", paths)
            with telemetry.span("streaming_neardup_expiry", f"batch{j}_drain"):
                q.processAllAvailable()
    finally:
        q.stop()
    log = spark.read.schema(NEARDUP_OUT_SCHEMA).parquet(sink)
    return log.groupBy("doc_id").agg(F.min("dup_of").alias("dup_of"))


def run_streaming_neardup(
    spark: SparkSession,
    sf_dir: str,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    seed: int = 7,
    query_name: str = "gp_stream_neardup",
    n_files: int = 2,
    ttl_ms: int | None = None,
    event_time: bool = False,
) -> DataFrame:
    """Drive the documents parquet through the streaming near-dup operator:
    id-range staged arrivals (arrival order == id order, so 'earlier' is
    well-defined for the oracle), per-band match log into a parquet sink,
    then the batch min-per-doc summary of the log.

    ``event_time=True`` exercises the watermark/EventTimeTimeout path: each
    doc gets the synthetic event time _TS_EPOCH + doc_id seconds (pure
    function of the data), the stream is watermarked at 0 delay, and cold
    buckets expire ``ttl_ms`` of EVENT time after their last member.  With
    ``ttl_ms`` larger than the corpus's id span no bucket can expire (the
    watermark never outruns last_ts + ttl), so the emitted relation equals
    the no-TTL oracle while the full timeout machinery runs — expiry
    behaviour itself is pytest-gated with controlled timestamps
    (tests/test_streaming_neardup.py)."""
    work = tempfile.mkdtemp(prefix="gp_stream_neardup_")
    sink, ckpt = os.path.join(work, "sink"), os.path.join(work, "ckpt")
    src, arrivals, schema = _staged_arrivals(
        spark, sf_dir, work, n_files, sentinel=False,
        table="documents", order_col="doc_id",
    )

    stream = spark.readStream.schema(schema).parquet(src)
    ts_col = None
    if event_time:
        stream = stream.withColumn(
            "_event_ts", F.timestamp_seconds(F.lit(_TS_EPOCH) + F.col("doc_id"))
        )
        ts_col = "_event_ts"
    matches = streaming_neardup_matches(
        stream, num_hashes=num_hashes, bands=bands, shingle_n=shingle_n, seed=seed,
        ttl_ms=ttl_ms, ts_col=ts_col,
    )
    # without a TTL the state machine never times out, so no-data batches
    # only re-commit the stores (see _no_nodata_batches); TTL variants NEED
    # them — that's where the engine fires timeouts
    import contextlib

    nodata_ctx = (
        _no_nodata_batches(spark) if ttl_ms is None else contextlib.nullcontext()
    )
    with _state_partitions(spark), nodata_ctx:
        q = (
            matches.writeStream.outputMode("append")
            .format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .queryName(query_name)
            .start()
        )
        _drive_append_query(q, src, arrivals)
    # explicit schema: a collision-free corpus commits ZERO part files and a
    # bare read would fail schema inference instead of returning 0 rows
    log = spark.read.schema(NEARDUP_OUT_SCHEMA).parquet(sink)
    return log.groupBy("doc_id").agg(F.min("dup_of").alias("dup_of"))


def run_streaming_neardup_join(
    spark: SparkSession,
    sf_dir: str,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    seed: int = 7,
    query_name: str = "gp_stream_neardup_join",
    n_files: int = 2,
    horizon_s: int | None = None,
) -> DataFrame:
    """JVM-NATIVE streaming near-dup: the stream-stream band SELF-JOIN twin
    of ``run_streaming_neardup`` (same id-ordered staged arrivals, same
    banding projection, SAME no-TTL oracle): each arriving document
    inner-joins every EARLIER document sharing an LSH (band, key) bucket —
    earlier by the synthetic event time _TS_EPOCH + doc_id, so "earlier"
    is exactly "smaller doc id" — and the batch min-per-doc summary of the
    match log is dup_of(d) = min{d' < d : shares ≥ 1 band}, identical to
    the custom-state machine's relation.

    Why a twin exists (r9 measurement, sf0.1): applyInPandasWithState pays
    a fixed ~0.9 ms Arrow/pandas invocation per GROUP, and the banding key
    space is ~10k buckets per micro-batch — the custom-state entries cost
    21-23 s at bench scale on engine overhead alone.  This join stays
    entirely in the JVM (whole-stage codegen on the banding projection,
    symmetric-hash stream-stream join on (band, key)) at the cost of a
    DIFFERENT state shape: the join retains the full banded ROWS of both
    sides (no time-range lower bound — unbounded lookback is the
    semantics), where the state machine kept one long per bucket.  The
    scale trade is real and workload-dependent: bounded-state-but-Python
    vs JVM-but-row-retention; production near-dup at 100 TB wants the
    state machine's footprint with a TTL, analytics replays want this one.

    Emission timing: an inner stream-stream join emits ON ARRIVAL (no
    watermark flush needed), so arrivals need no sentinel — matching the
    state-machine driver's discipline.

    ``horizon_s`` (VERDICT r10 next #3) resolves the unbounded-state trade:
    with it set, the join keeps only priors within an event-time horizon —
    ``p_ts >= n_ts - horizon`` — so dup_of(d) = min{d' : d-H <= d' < d,
    shares >= 1 band}: "near-dup within a retention horizon", the actual
    production shape.  The time-range lower bound lets Spark derive a state
    watermark for BOTH sides (evict prior rows once the event-time
    watermark passes p_ts + horizon — no future arrival above the watermark
    can need them), making the JVM join's row-retention state EVICTABLE:
    bounded state AND no per-group Python overhead, strictly dominating
    both prior variants for horizon-scoped workloads.  Eviction is asserted
    functionally in tests/test_streaming_dedup_join.py via the state
    operator's numRowsRemoved metric."""
    work = tempfile.mkdtemp(prefix="gp_stream_neardup_join_")
    sink, ckpt = os.path.join(work, "sink"), os.path.join(work, "ckpt")
    src, arrivals, schema = _staged_arrivals(
        spark, sf_dir, work, n_files, sentinel=False,
        table="documents", order_col="doc_id",
    )
    stream = (
        spark.readStream.schema(schema)
        .parquet(src)
        .withColumn(
            "_ts", F.timestamp_seconds(F.lit(_TS_EPOCH) + F.col("doc_id"))
        )
        .withWatermark("_ts", "0 seconds")
    )
    # staged signature pipeline — same re-inlining guard as
    # streaming_neardup_matches (see there)
    staged = minhash_staged_cols(
        stream.select(F.col("doc_id").alias("_id"), "_ts", "text"),
        "text",
        keep=["_id", "_ts"],
        num_hashes=num_hashes, shingle_n=shingle_n, seed=seed,
    )
    banded = staged.select(
        "_id",
        "_ts",
        minhash_band_struct(F.col("sig"), num_hashes, bands).alias("bk"),
    ).select(
        "_id",
        "_ts",
        F.col("bk.band").alias("band"),
        F.col("bk.key").alias("key"),
    )
    new_side = banded.select(
        F.col("_id").alias("doc_id"), F.col("_ts").alias("n_ts"), "band", "key"
    )
    prior_side = banded.select(
        F.col("_id").alias("dup_cand"), F.col("_ts").alias("p_ts"), "band", "key"
    )
    conds = [
        new_side["band"] == prior_side["band"],
        new_side["key"] == prior_side["key"],
        prior_side["p_ts"] < new_side["n_ts"],
    ]
    if horizon_s is not None:
        conds.append(
            prior_side["p_ts"]
            >= new_side["n_ts"] - F.expr(f"INTERVAL {int(horizon_s)} SECONDS")
        )
    matches = new_side.join(prior_side, on=conds, how="inner").select(
        "doc_id", F.col("dup_cand").alias("dup_of")
    )
    # inner join => emits on arrival; no-data batches would only pay
    # state commits (see _no_nodata_batches: 29.8 -> 22.1 s bounded /
    # 21.7 -> 16.2 s unbounded at sf0.1, same VM)
    with _state_partitions(spark), _no_nodata_batches(spark):
        q = (
            matches.writeStream.outputMode("append")
            .format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .queryName(query_name)
            .start()
        )
        _drive_append_query(q, src, arrivals)
    LAST_JOIN_STATE_METRICS.clear()
    LAST_JOIN_STATE_METRICS.update(
        {
            "horizon_s": horizon_s,
            "num_rows_removed": sum(
                int(so.get("numRowsRemoved") or 0)
                for p in q.recentProgress
                for so in p.get("stateOperators", [])
            ),
        }
    )
    log = spark.read.schema(NEARDUP_OUT_SCHEMA).parquet(sink)
    return log.groupBy("doc_id").agg(F.min("dup_of").alias("dup_of"))
