"""Data-quality operators: declarative constraint checks and table profiling.

The expectations/ANALYZE surface of a production pipeline (what Deequ /
Great Expectations / ``ANALYZE TABLE`` provide), expressed so every check
compiles into at most one aggregate pass plus one anti-join per
referential rule:

- row-level rules (not-null, range, set-membership, regex) become CASE
  counts inside ONE global aggregate over a single scan — adding a rule
  adds an expression, not a pass;
- ``unique`` compiles to ``count(*) − count(DISTINCT col)`` in the same
  aggregate;
- ``foreign_key`` is a LEFT ANTI join against the (broadcastable) dimension
  keyset — the only rule that shuffles.

Output is long-format ``(rule, violations)`` so reports union cleanly and
the DuckDB oracle restates each rule verbatim.

No reference counterpart (the reference is a GP library, /root/reference).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .cache import persist


@dataclass(frozen=True, eq=False)
class Rule:
    """A named data-quality rule; ``violation`` is a boolean Column that is
    TRUE for a violating row (row-level rules only).

    ``eq=False``: ``violation`` is a pyspark Column, whose ``__eq__`` builds
    an expression (and which is unhashable) — a generated ``__eq__/__hash__``
    would raise the moment Rules were compared or put in a set."""

    name: str
    violation: Column | None = None
    kind: str = "row"  # row | unique | fk
    col: str | None = None
    fk_dim: DataFrame | None = field(default=None, compare=False)
    fk_col: str | None = None


def not_null(col: str) -> Rule:
    return Rule(f"not_null({col})", F.col(col).isNull())


def in_range(col: str, lo: float, hi: float) -> Rule:
    c = F.col(col)
    return Rule(
        f"in_range({col},{lo},{hi})", c.isNull() | (c < F.lit(lo)) | (c > F.lit(hi))
    )


def in_set(col: str, values: list) -> Rule:
    c = F.col(col)
    return Rule(f"in_set({col})", c.isNull() | ~c.isin(values))


def matches(col: str, pattern: str) -> Rule:
    c = F.col(col)
    return Rule(f"matches({col})", c.isNull() | ~c.rlike(pattern))


def unique(col: str) -> Rule:
    return Rule(f"unique({col})", kind="unique", col=col)


def foreign_key(col: str, dim: DataFrame, dim_col: str) -> Rule:
    return Rule(f"foreign_key({col})", kind="fk", col=col, fk_dim=dim, fk_col=dim_col)


def dq_report(df: DataFrame, rules: list[Rule]) -> DataFrame:
    """(rule, violations) — one aggregate pass for all row-level + unique
    rules, one anti-join per foreign-key rule, unioned."""
    if not rules:
        raise ValueError("dq_report requires at least one rule")
    agg_rules = [r for r in rules if r.kind in ("row", "unique")]
    fk_rules = [r for r in rules if r.kind == "fk"]
    parts: list[DataFrame] = []
    if agg_rules:
        exprs = []
        for r in agg_rules:
            if r.kind == "row":
                exprs.append(
                    F.sum(r.violation.cast("long")).alias(r.name)
                )
            else:  # unique: extra rows beyond one per distinct value
                exprs.append(
                    (F.count(r.col) - F.countDistinct(r.col)).alias(r.name)
                )
        one = df.agg(*exprs)
        stack = ", ".join(
            "'{}', `{}`".format(r.name.replace("'", ""), r.name) for r in agg_rules
        )
        parts.append(
            one.selectExpr(
                f"stack({len(agg_rules)}, {stack}) AS (rule, violations)"
            )
        )
    for r in fk_rules:
        keys = r.fk_dim.select(F.col(r.fk_col).alias(r.col)).distinct()
        orphans = (
            df.filter(F.col(r.col).isNotNull())
            .join(F.broadcast(keys), r.col, "left_anti")
            .agg(F.count("*").alias("violations"))
            .select(F.lit(r.name).alias("rule"), "violations")
        )
        parts.append(orphans)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def approx_percentiles(
    df: DataFrame,
    value_col: str,
    probs: list[float],
    group_cols: list[str] | None = None,
    accuracy: int = 10000,
    exact: bool = False,
) -> DataFrame:
    """Percentiles of ``value_col`` (optionally per group): the scale twin
    of an exact ``percentile`` aggregate.

    ``exact=False`` (default, the 100 TB path) uses ``percentile_approx``
    (Greenwald-Khanna sketch, rank error ≤ 1/accuracy): sketches merge in
    the map-side partial aggregate, so memory is O(accuracy·log n) per
    group instead of buffering every value for an exact sort.  ``exact=
    True`` switches to the interpolated exact ``percentile`` — what the
    oracle-gated ``event_value_percentiles`` registry query uses; reserve
    it for small groups.

    Output: group cols + ``p<prob>`` columns (``p50``, ``p99``, ...).
    """
    if not probs:
        raise ValueError("approx_percentiles requires at least one probability")
    fn = "percentile" if exact else "percentile_approx"

    def name(p: float) -> str:
        return "p" + (f"{p * 100:g}".replace(".", "_"))

    aggs = [
        F.expr(
            f"{fn}({value_col}, {float(p)!r})"
            if exact
            else f"{fn}({value_col}, {float(p)!r}, {int(accuracy)})"
        ).alias(name(p))
        for p in probs
    ]
    if group_cols:
        return df.groupBy(*group_cols).agg(*aggs)
    return df.agg(*aggs)


def profile_table(
    df: DataFrame, cols: list[str], exact: bool = False, rsd: float = 0.05
) -> DataFrame:
    """Long-format column profile: per column, row count, null count,
    distinct count, and min/max (as strings, type-agnostic) — the
    ANALYZE TABLE statistics pass, one aggregate over one scan.

    ``exact=False`` (the default, the 100 TB path) estimates distincts with
    ``approx_count_distinct`` (HyperLogLog++, relative error ``rsd``): every
    per-column sketch folds inside ONE partial-aggregated pass over one
    scan.  ``exact=True`` switches to ``count(DISTINCT col)`` — bit-exact
    (what the DuckDB-oracle registry query uses), but multiple exact
    distincts compile to an Expand that re-reads the scan once per column
    and wide-shuffles each; reserve it for small profiling inputs.
    """
    if not cols:
        raise ValueError("profile_table requires at least one column")

    def distinct_agg(c: str):
        if exact:
            return F.countDistinct(c)
        return F.approx_count_distinct(c, rsd)

    exprs = []
    for c in cols:
        exprs += [
            F.count(F.lit(1)).alias(f"{c}__rows"),
            F.sum(F.col(c).isNull().cast("long")).alias(f"{c}__nulls"),
            distinct_agg(c).alias(f"{c}__distinct"),
            F.min(c).cast("string").alias(f"{c}__min"),
            F.max(c).cast("string").alias(f"{c}__max"),
        ]
    one = df.agg(*exprs)
    stack = ", ".join(
        f"'{c}', `{c}__rows`, `{c}__nulls`, `{c}__distinct`, `{c}__min`, `{c}__max`"
        for c in cols
    )
    return one.selectExpr(
        f"stack({len(cols)}, {stack}) AS (col, n_rows, n_nulls, n_distinct, min_val, max_val)"
    )


def exact_quantiles(
    df: DataFrame,
    value_col: str,
    tiebreak_cols: list,
    probs: tuple = (0.25, 0.5, 0.75),
    buckets: int = 32,
) -> DataFrame:
    """EXACT order-statistic quantiles of a corpus-sized column,
    distributed — the profiling number ``approx_percentile`` only
    estimates, computed without a single-task sort via the shared
    ``prep.exact_global_rank`` core (repartitionByRange + per-partition
    prefix counts).  Exactness matters when the quantile IS the contract:
    cross-engine-reproducible split thresholds, regression-pinned DQ
    baselines, billing tiers.

    Semantics: quantile(p) = the value at global rank ``ceil(p·N)`` under
    ORDER BY (value, *tiebreak) — the inverted-CDF / SQL
    ``quantile_disc`` definition, restated by the oracle with the same
    ``row_number`` arithmetic.  ``probs`` must be exactly-representable
    doubles (quarters, eighths, …) so ``ceil(p·N)`` is bit-identical in
    any IEEE-754 engine.  ``tiebreak_cols`` must make the composite key
    unique (duplicate VALUES are fine — selecting by rank returns the
    same value whichever duplicate holds it).

    Output: (prob, rank, n_rows, value) — |probs| rows.

    Scale shape: one ranged shuffle of the (value, tiebreak) projection +
    the buckets-row prefix aggregate; the target-rank filter
    ``array_contains`` compiles into the scan of the ranked relation, so
    only |probs| rows survive to the prob-attach explode."""
    order_cols = [value_col, *tiebreak_cols]
    from .prep import exact_global_rank

    ranked = exact_global_rank(
        df.select(*order_cols), order_cols, buckets=buckets
    )
    targets = F.array(
        *[F.ceil(F.lit(float(p)) * F.col("_n")).cast("long") for p in probs]
    )
    probs_arr = F.array(*[F.lit(float(p)) for p in probs])
    hits = ranked.filter(F.array_contains(targets, F.col("_rank")))
    return (
        hits.select(
            F.col(value_col),
            F.col("_rank").alias("rank"),
            F.col("_n").alias("n_rows"),
            F.explode(probs_arr).alias("prob"),
        )
        .filter(
            F.col("rank")
            == F.ceil(F.col("prob") * F.col("n_rows")).cast("long")
        )
        .select(
            "prob",
            "rank",
            "n_rows",
            F.round(F.col(value_col).cast("double"), 6).alias("value"),
        )
    )


def column_integrity_report(
    df: DataFrame,
    meta_col: str,
    derived: Column,
    group_col: str,
) -> DataFrame:
    """Metadata-integrity audit: per ``group_col``, how often a STORED
    metadata column disagrees with the value recomputed from the payload
    (``derived``) — the ingest check that catches truncated payloads,
    stale re-crawl metadata, and encoding drift before any verb trusts
    the metadata column as a cheap stand-in for scanning the payload.

    Output: (group, n_docs, n_mismatched, mismatch_rate, max_abs_drift) —
    integer counts, one exactly-rounded division, and an integer max, so
    the relation is bit-identical across engines.

    Scale shape: ONE aggregate over a scan projection (the recomputation
    is a column expression; nothing shuffles but the group keys)."""
    d = df.withColumn("_derived", derived)
    mism = F.col(meta_col).cast("long") != F.col("_derived").cast("long")
    drift = F.abs(F.col(meta_col).cast("long") - F.col("_derived").cast("long"))
    return (
        d.groupBy(group_col)
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.when(mism, 1).otherwise(0)).cast("long").alias("n_mismatched"),
            F.max(F.when(mism, drift).otherwise(0)).cast("long").alias("max_abs_drift"),
        )
        .select(
            group_col,
            "n_docs",
            "n_mismatched",
            F.round(F.col("n_mismatched") / F.col("n_docs"), 6).alias(
                "mismatch_rate"
            ),
            "max_abs_drift",
        )
    )


def grouped_exact_quantiles(
    df: DataFrame,
    value_col: str,
    group_col: str,
    tiebreak_cols: list,
    probs: tuple = (0.25, 0.5, 0.75),
) -> DataFrame:
    """Per-GROUP exact order-statistic quantiles — the grouped form of
    ``exact_quantiles``: quantile_g(p) = the value at rank ceil(p·N_g)
    under ORDER BY (value, *tiebreak) WITHIN each group.  Groups
    partition the work, so the canonical Spark shape is right here: ONE
    hash shuffle on the group key and a per-group sort that distributes
    across the cluster (no global ordering exists to need the
    repartitionByRange machinery — that is the UNGROUPED problem).

    Output: (group, prob, rank, n_rows, value) — |groups|·|probs| rows.
    Same determinism contract as exact_quantiles: unique composite sort
    key, exactly-representable probs."""
    from pyspark.sql import Window

    order = [F.col(value_col), *[F.col(c) for c in tiebreak_cols]]
    w = Window.partitionBy(group_col).orderBy(*order)
    cw = Window.partitionBy(group_col)
    ranked = df.select(group_col, value_col, *tiebreak_cols).select(
        group_col,
        F.col(value_col),
        F.row_number().over(w).cast("long").alias("_rank"),
        F.count("*").over(cw).cast("long").alias("_n"),
    )
    targets = F.array(
        *[F.ceil(F.lit(float(p)) * F.col("_n")).cast("long") for p in probs]
    )
    probs_arr = F.array(*[F.lit(float(p)) for p in probs])
    return (
        ranked.filter(F.array_contains(targets, F.col("_rank")))
        .select(
            group_col,
            F.col(value_col),
            F.col("_rank").alias("rank"),
            F.col("_n").alias("n_rows"),
            F.explode(probs_arr).alias("prob"),
        )
        .filter(
            F.col("rank")
            == F.ceil(F.col("prob") * F.col("n_rows")).cast("long")
        )
        .select(
            group_col,
            "prob",
            "rank",
            "n_rows",
            F.round(F.col(value_col).cast("double"), 6).alias("value"),
        )
    )


def source_ks_drift(
    df: DataFrame,
    group_col: str = "source",
    value_col: str = "n_chars",
    alpha_critical: float = 1.628,
) -> DataFrame:
    """Pairwise two-sample Kolmogorov–Smirnov drift report between every
    pair of sources over a numeric column — the distribution-shift audit a
    curation pipeline runs before mixing crawls: a source whose length /
    quality distribution drifted (new boilerplate, changed extraction)
    shows up as a large KS statistic against its peers.

    Output: (source_a, source_b, n_a, n_b, ks, drifted) for every unordered
    pair — ks = max_v |F_a(v) − F_b(v)| computed over cross-multiplied
    counts |c_a·n_b − c_b·n_a| with the counts widened to DOUBLE before
    the multiply (int64 products wrap near 9.2e18 at the 100 TB regime;
    both engines compute the identical IEEE double product, so parity
    holds at any scale and the products stay integer-exact below 2^53);
    ``drifted`` is the
    classic large-sample rejection rule ks > c(alpha)·sqrt((n_a+n_b)/
    (n_a·n_b)) with c defaulting to the alpha=0.01 constant 1.628.

    Scale shape: ONE aggregate collapses the corpus to (source, value)
    counts, PERSISTED because five
    downstream consumers (totals, the value grid, the dense left join, and
    both sides of the pair sweep) derive from it — uncached, each would
    re-scan the corpus (the r12 plan audit measured 6 scans / 23
    exchanges in the first cut; the persist collapses that, asserted in
    tests/test_plans.py).  The dense ECDF grid is distinct-values ×
    sources (a broadcast nested-loop of two already-aggregated tiny
    relations, never the corpus); the pair sweep self-joins the grid on
    value — |V|·|S|² rows where |S| is the source count (dozens), all
    corpus-free."""
    from pyspark.sql import Window

    counts = persist(
        df.groupBy(group_col, F.col(value_col).alias("_v")).agg(
            F.count("*").alias("_c")
        )
    )
    totals = counts.groupBy(group_col).agg(F.sum("_c").alias("_n"))
    values = counts.select("_v").distinct()
    grid = values.crossJoin(F.broadcast(totals))
    dense = grid.join(counts, [group_col, "_v"], "left").fillna({"_c": 0})
    w = (
        Window.partitionBy(group_col)
        .orderBy(F.asc("_v"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    ecdf = dense.select(
        group_col, "_v", "_n", F.sum("_c").over(w).alias("_le")
    )
    a = ecdf.select(
        F.col(group_col).alias("source_a"),
        "_v",
        F.col("_n").alias("n_a"),
        F.col("_le").alias("_le_a"),
    )
    b = ecdf.select(
        F.col(group_col).alias("source_b"),
        "_v",
        F.col("_n").alias("n_b"),
        F.col("_le").alias("_le_b"),
    )
    pairs = (
        a.join(b, "_v")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b", "n_a", "n_b")
        .agg(
            # double BEFORE the multiply: le*n is a count-product that
            # overflows int64 near 9.2e18 (Spark wraps silently, DuckDB
            # errors — the skew_factor fix, r11).  Both engines compute
            # the identical IEEE double product, so cross-engine parity
            # holds at any scale; products stay integer-exact below 2^53.
            F.max(
                F.abs(
                    F.col("_le_a").cast("double") * F.col("n_b")
                    - F.col("_le_b").cast("double") * F.col("n_a")
                )
            ).alias("_num")
        )
    )
    ks = F.col("_num") / (F.col("n_a").cast("double") * F.col("n_b"))
    crit = F.lit(alpha_critical) * F.sqrt(
        (F.col("n_a") + F.col("n_b"))
        / (F.col("n_a").cast("double") * F.col("n_b"))
    )
    return pairs.select(
        "source_a",
        "source_b",
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.round(ks, 6).alias("ks"),
        (ks > crit).alias("drifted"),
    )


def robust_anomaly_screen(
    df: DataFrame,
    value_col: str = "value",
    group_col: str = "event_type",
    k: float = 3.5,
    scale: float = 1.4826,
) -> DataFrame:
    """Per-group robust (median/MAD) outlier screen over a numeric column —
    the DQ verb a pipeline runs on metric streams where mean/std are
    themselves poisoned by the outliers being hunted (Iglewicz & Hoaglin's
    modified z-score rule: flag |x − median| > k·1.4826·MAD, k = 3.5).

    Exactness contract: median and MAD are lower ORDER STATISTICS at rank
    ceil(N/2) (no interpolation), so both engines derive bit-identical
    doubles and the strict ``>`` comparison can never disagree.  MAD = 0
    (majority-tied groups) degrades to flagging every deviation — the
    documented behavior of the modified z-score on discrete data.

    Scale shape (the source_ks_drift discipline): ONE map-side-combined
    aggregate collapses the corpus to (group, value) counts — value
    domains like prices-in-cents are bounded, so this relation stays small
    when rows grow 1000× — and every window/prefix-sum below runs on the
    counts relation, never the raw rows (a per-group sort of raw rows
    would put 100 TB onto |groups| tasks).  The counts relation is
    persisted (three consumers: totals, the median prefix scan, the
    deviation re-aggregation).

    Output: (group, n_events, median, mad, threshold, n_anomalies,
    anomaly_rate) — one row per group."""
    from pyspark.sql import Window

    g, v = group_col, value_col
    kc = float(k) * float(scale)
    counts = persist(df.groupBy(g, v).agg(F.count("*").cast("long").alias("_cnt")))
    tot = counts.groupBy(g).agg(F.sum("_cnt").cast("long").alias("_n"))
    half = F.ceil(F.lit(0.5) * F.col("_n")).cast("long")
    wv = Window.partitionBy(g).orderBy(v)
    med = (
        counts.select(g, v, F.sum("_cnt").over(wv).alias("_cum"))
        .join(F.broadcast(tot), g)
        .filter(F.col("_cum") >= half)
        .groupBy(g)
        .agg(F.min(v).alias("_med"))
    )
    adc = (
        counts.join(F.broadcast(med), g)
        .select(g, F.abs(F.col(v) - F.col("_med")).alias("_ad"), "_cnt")
        .groupBy(g, "_ad")
        .agg(F.sum("_cnt").cast("long").alias("_cnt"))
    )
    wa = Window.partitionBy(g).orderBy("_ad")
    mad = (
        adc.select(g, "_ad", F.sum("_cnt").over(wa).alias("_cum"))
        .join(F.broadcast(tot), g)
        .filter(F.col("_cum") >= half)
        .groupBy(g)
        .agg(F.min("_ad").alias("_mad"))
    )
    anom = (
        adc.join(F.broadcast(mad), g)
        .groupBy(g)
        .agg(
            F.sum(
                F.when(F.col("_ad") > F.lit(kc) * F.col("_mad"), F.col("_cnt"))
                .otherwise(F.lit(0))
            )
            .cast("long")
            .alias("_n_anom")
        )
    )
    return (
        tot.join(med, g)
        .join(mad, g)
        .join(anom, g)
        .select(
            F.col(g),
            F.col("_n").alias("n_events"),
            F.round("_med", 6).alias("median"),
            F.round("_mad", 6).alias("mad"),
            F.round(F.lit(kc) * F.col("_mad"), 6).alias("threshold"),
            F.col("_n_anom").alias("n_anomalies"),
            F.round(F.col("_n_anom") / F.col("_n"), 6).alias("anomaly_rate"),
        )
    )


def referential_integrity_report(edges: list) -> DataFrame:
    """Whole-schema foreign-key orphan audit — one row per FK edge:
    (fk, child_rows, n_orphans, orphan_rate), where an orphan is a
    non-null child key with no parent match.  The cross-table complement
    of ``dq_report``'s single-table rules: the audit a pipeline runs
    after ingest/MERGE before trusting any join to be lossless.

    ``edges`` is a list of (name, child_df, child_col, parent_df,
    parent_col, small_parent).  Scale shape per edge: the parent
    collapses to DISTINCT keys (map-side-combined — the probe side never
    carries payload), broadcast when ``small_parent`` (fixed-cardinality
    dims like nation/region; scaling parents shuffle on the key), then
    ONE left join + conditional aggregate — no separate anti-join pass,
    so each edge costs exactly one join and each child scans once per
    edge touching it (Catalyst prunes to the key column).  An empty
    child table reports orphan_rate 0.0 (not a NULL a rate-threshold
    gate would silently pass); an empty edges list is a caller error."""
    if not edges:
        raise ValueError("referential_integrity_report requires >= 1 edge")
    parts: list[DataFrame] = []
    for name, child, ccol, parent, pcol, small in edges:
        keys = (
            parent.select(F.col(pcol).alias("_pk"))
            .distinct()
            .withColumn("_hit", F.lit(1))
        )
        if small:
            keys = F.broadcast(keys)
        j = child.select(F.col(ccol).alias("_fk")).join(
            keys, F.col("_fk") == F.col("_pk"), "left"
        )
        orphan = (F.col("_fk").isNotNull() & F.col("_hit").isNull()).cast("long")
        parts.append(
            j.agg(
                F.count("*").cast("long").alias("child_rows"),
                # sum over zero rows is NULL — an empty child must report
                # 0 orphans, not a NULL a threshold gate ignores
                F.coalesce(F.sum(orphan), F.lit(0))
                .cast("long")
                .alias("n_orphans"),
            ).select(F.lit(name).alias("fk"), "child_rows", "n_orphans")
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.select(
        "fk",
        "child_rows",
        "n_orphans",
        F.round(
            F.col("n_orphans") / F.greatest(F.col("child_rows"), F.lit(1)), 6
        ).alias("orphan_rate"),
    )


def volume_trend_anomalies(
    df: DataFrame,
    ts_col: str = "ts",
    window: int = 7,
    k: float = 3.5,
    scale: float = 1.4826,
) -> DataFrame:
    """Daily ingest-volume anomaly screen — the monitor that catches a
    double-ingest spike or an outage drop before either poisons
    time-bucketed statistics: daily counts, a centered ``window``-day
    moving average, and the modified z-score rule applied to the
    RESIDUALS (robust_anomaly_screen's exact rank-based median/MAD
    convention, so seasonality-detrended outliers flag without the
    spike inflating its own threshold the way mean/std would).

    Determinism: the residual is (exact integer count) − (window average
    of exact integer counts), one division per row — bit-identical
    across engines; median/MAD are lower order statistics at rank
    ceil(N/2) (rank comparisons only, no float summation anywhere).

    Scale shape: ONE map-side-combined aggregate collapses the corpus to
    the days relation (bounded by calendar span — ~365 rows/year at ANY
    corpus size), PERSISTED because four consumers derive from it (the
    rank pass, the median pick, the deviation rank, and the final
    projection — uncached, each would re-fold the corpus; the r12 plan
    walk measured 8 scans in the first cut).  A calendar spine densifies
    the relation first (zero-event days MUST appear — a total outage is
    the monitor's strongest target).  Every window below runs on the
    cached days relation; the unpartitioned windows are bounded by the
    same calendar span, the documented exception to the
    no-single-partition-window rule.

    Output: (day, n_events, moving_avg, resid, is_anomaly) — one row per
    calendar day in [min(day), max(day)], including empty days."""
    from pyspark.sql import Window

    kc = float(k) * float(scale)
    half = int(window) // 2
    days = persist(
        df.groupBy(F.to_date(F.col(ts_col)).alias("day")).agg(
            F.count("*").cast("long").alias("n_events")
        )
    )
    # Dense calendar spine: a day with ZERO events never reaches the
    # groupBy output, yet a total outage is the strongest instance of the
    # failure class this monitor exists for (r12 review) — and without
    # the spine the "centered" window would silently span calendar gaps.
    span = days.agg(F.min("day").alias("_mn"), F.max("day").alias("_mx"))
    spine = span.select(
        F.explode(F.sequence(F.col("_mn"), F.col("_mx"))).alias("day")
    )
    dense = spine.join(days, "day", "left").select(
        "day",
        F.coalesce("n_events", F.lit(0)).cast("long").alias("n_events"),
    )
    wma = Window.orderBy("day").rowsBetween(-half, half)
    m = dense.select(
        "day", "n_events", F.avg("n_events").over(wma).alias("_ma")
    ).withColumn("_resid", F.col("n_events") - F.col("_ma"))
    whole = Window.partitionBy()
    ranked = m.select(
        "*",
        F.row_number().over(Window.orderBy("_resid", "day")).alias("_rn"),
        F.count("*").over(whole).alias("_nd"),
    )
    med = ranked.filter(
        F.col("_rn") == F.ceil(F.col("_nd") / 2)
    ).select(F.col("_resid").alias("_med"))
    ad = ranked.crossJoin(F.broadcast(med)).withColumn(
        "_ad", F.abs(F.col("_resid") - F.col("_med"))
    )
    adr = ad.select(
        "*", F.row_number().over(Window.orderBy("_ad", "day")).alias("_arn")
    )
    mad = adr.filter(
        F.col("_arn") == F.ceil(F.col("_nd") / 2)
    ).select(F.col("_ad").alias("_mad"))
    return (
        ad.crossJoin(F.broadcast(mad))
        .select(
            "day",
            "n_events",
            F.round("_ma", 6).alias("moving_avg"),
            F.round("_resid", 6).alias("resid"),
            (F.col("_ad") > F.lit(kc) * F.col("_mad")).alias("is_anomaly"),
        )
    )


def user_concentration_report(df: DataFrame, key_col: str = "user_id") -> DataFrame:
    """Event-concentration audit over a key (defaults: events per user) —
    the bot/power-user screen run before per-user statistics are trusted:
    exact Gini coefficient of the per-key event counts plus the share of
    events held by the top 1% and top 10% of keys.

    Exactness: Gini = (2·Σ rank·x − (n+1)·Σx) / (n·Σx) over counts ranked
    ascending with the key as tiebreak — tie order cannot change the sum
    (equal x swap ranks, the products' sum is invariant).  Σ rank·x
    accumulates in DECIMAL(38,0) (int64 would wrap: rank ~1e9 × count
    ~1e6 summed over 1e9 keys passes 2^63 long before 100 TB; the oracle's
    HUGEINT sum is exact the same way), and every division happens once,
    in double, at the end — both engines see identical integers and apply
    identical IEEE operations.

    Scale shape: one map-side-combined aggregate collapses events to the
    per-key counts relation, and the ranking runs through
    ``prep.exact_global_rank`` (repartitionByRange + per-partition prefix
    counts) — keys scale with the corpus, so a plain unpartitioned
    row_number window would serialize them onto one task; here the only
    single-partition exchange feeds the buckets-row offsets aggregate.
    One final single-row aggregate produces the report.

    Output: one row (n_users, n_events, gini, top1pct_share,
    top10pct_share)."""
    from .prep import exact_global_rank

    # exact_global_rank consumes its input twice (the offsets aggregate
    # and the rank join-back) — uncached that re-runs the corpus-wide
    # count aggregate, so the thin (key, count) relation is persisted
    # (r12 plan walk: 2 scans + 2 count shuffles in the first cut).
    counts = persist(
        df.groupBy(F.col(key_col)).agg(F.count("*").cast("long").alias("_ne"))
    )
    ranked = exact_global_rank(
        counts, ["_ne", key_col], rank_col="_rk", n_col="_n"
    )
    k1 = F.ceil(F.lit(0.01) * F.col("_n"))
    k10 = F.ceil(F.lit(0.10) * F.col("_n"))
    agg = ranked.agg(
        F.max("_n").cast("long").alias("n_users"),
        F.sum("_ne").cast("long").alias("n_events"),
        F.sum(F.col("_rk").cast("decimal(38,0)") * F.col("_ne")).alias("_s"),
        F.sum(
            F.when(F.col("_rk") > F.col("_n") - k1, F.col("_ne")).otherwise(0)
        )
        .cast("long")
        .alias("_t1"),
        F.sum(
            F.when(F.col("_rk") > F.col("_n") - k10, F.col("_ne")).otherwise(0)
        )
        .cast("long")
        .alias("_t10"),
    )
    gini = (
        F.lit(2.0) * F.col("_s").cast("double")
        - (F.col("n_users") + F.lit(1.0)) * F.col("n_events")
    ) / (F.col("n_users").cast("double") * F.col("n_events"))
    return agg.select(
        "n_users",
        "n_events",
        F.round(gini, 6).alias("gini"),
        F.round(F.col("_t1") / F.col("n_events").cast("double"), 6).alias(
            "top1pct_share"
        ),
        F.round(F.col("_t10") / F.col("n_events").cast("double"), 6).alias(
            "top10pct_share"
        ),
    )


def reconciliation_report(
    parent: DataFrame,
    child: DataFrame,
    parent_key: str,
    child_key: str,
    total_units: Column,
    child_units: Column,
    group_col: str,
    tight: float = 0.01,
    loose: float = 0.25,
) -> DataFrame:
    """Aggregate-consistency audit between a header table and its detail
    table — the "does the rollup still equal the stored total" check a
    pipeline runs after ingest/backfill before trusting either relation
    (orders.o_totalprice vs the lineitem revenue recompute being the
    canonical instance).  Per ``group_col`` segment it reports how many
    parents have NO detail rows, reconcile within ``tight`` relative
    tolerance, land between ``tight`` and ``loose``, or diverge beyond
    ``loose``, plus the mean/max relative delta.

    Exactness: ``total_units`` / ``child_units`` are caller-built INTEGER
    unit expressions at one shared fixed-point scale (e.g. 1e-6 dollars),
    so the detail-side sum and the header-vs-sum delta are exact 64-bit
    arithmetic — identical in any engine at any partitioning — and the
    single double division per parent happens on identical integers.
    Summing doubles here instead would make the class boundaries
    partition-order-dependent; summing DECIMAL products would hit Spark's
    precision-loss rescaling above 38 digits.  Unit headroom: at 1e-6
    dollars a 9.2e12-dollar parent saturates int64 — per-PARENT totals,
    not corpus totals, so fine at 100 TB.

    Scale shape: the detail table collapses to (key, sum) with map-side
    partial aggregation BEFORE the join — the join probe carries one row
    per parent key, never detail rows; parent scans prune to (key, total,
    group); one equi-join (AQE picks SMJ/broadcast by actual sizes) and a
    tiny final aggregate on the segment column.  No windows, no
    cross-products.

    Output: one row per segment (``group_col``, n_rows, n_missing,
    n_within_tight, n_within_loose, n_beyond, avg_rel_delta,
    max_rel_delta); rel deltas are NULL-skipped for detail-less parents.

    ``avg_rel_delta`` extends the same exactness discipline to the one
    per-parent double (r13 sweep of the round(avg(double)) fold-order
    class): the relative delta quantizes per-parent to 1e-6 units
    (``round(rel·1e6)::long`` — rel is itself deterministic, computed
    from exact integers), the per-segment sum is exact 64-bit arithmetic
    at any partitioning, and one double division per segment runs on
    identical integers in both engines.  ``max_rel_delta`` needs no
    quantization — max over doubles is fold-order-independent.
    """
    recomputed = child.groupBy(F.col(child_key).alias("_ck")).agg(
        F.sum(child_units).cast("long").alias("_recomputed")
    )
    j = parent.select(
        F.col(parent_key).alias("_pk"),
        total_units.cast("long").alias("_total"),
        F.col(group_col),
    ).join(recomputed, F.col("_pk") == F.col("_ck"), "left")
    missing = F.col("_recomputed").isNull()
    rel = F.abs(F.col("_total") - F.col("_recomputed")).cast(
        "double"
    ) / F.greatest(F.col("_total"), F.lit(1)).cast("double")
    return (
        j.groupBy(group_col)
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.sum(missing.cast("long")).cast("long").alias("n_missing"),
            F.sum((~missing & (rel <= tight)).cast("long"))
            .cast("long")
            .alias("n_within_tight"),
            F.sum((~missing & (rel > tight) & (rel <= loose)).cast("long"))
            .cast("long")
            .alias("n_within_loose"),
            F.sum((~missing & (rel > loose)).cast("long"))
            .cast("long")
            .alias("n_beyond"),
            # scale-0 close on the exact integer quotient (the sum/count
            # can land exactly on half a micro-unit; see text.doc_logprob)
            (
                F.round(
                    F.sum(F.round(rel * 1e6, 0).cast("long"))
                    / F.sum((~missing).cast("long")),
                    0,
                )
                / F.lit(1e6)
            ).alias("avg_rel_delta"),
            F.round(F.max(rel), 6).alias("max_rel_delta"),
        )
    )


def benford_first_digit_report(
    df: DataFrame, amount_col: str, flag_threshold: float = 0.04
) -> DataFrame:
    """First-significant-digit distribution of a positive amount column vs
    Benford's law — the synthetic/fabricated-amounts screen from forensic
    accounting, useful on an analytics corpus as a drift alarm for value
    columns that SHOULD be organic.  Rows with ``amount < 1`` are out of
    scope (their leading digit lives in the fraction); the caller picks a
    column where that filter is empty or irrelevant.

    Every digit 1-9 gets a row even when absent (a digit with ZERO mass is
    the strongest possible deviation — dropping it would hide exactly the
    signal the screen exists for), via a 9-row spine left-joined to the
    observed counts.  Expected shares are the fixed constants
    round(log10(1 + 1/d), 6), restated verbatim in the oracle; a digit is
    flagged when |observed_share − expected| > ``flag_threshold``.

    Determinism: counts are exact integers; the single count/total
    division and the deviation subtraction are one double operation each
    on identical integers/constants, rounded to 6 — no double SUMS cross
    the engine boundary.  The first digit comes from the DECIMAL STRING of
    floor(amount): floor-then-cast is restated in the oracle because
    DuckDB's double→BIGINT cast rounds-to-nearest while Spark's truncates
    — floor() first makes both exact.

    Scale shape: ONE pruned scan with a map-side-combined 9-group
    aggregate; the in-scope total is Σ of the 9 digit counts (every
    amount ≥ 1 has a leading digit in 1-9), so no second corpus pass —
    the total is a 9-row aggregate, broadcast as a one-row attach, plus a
    broadcast 9-row spine join.

    Output: (digit, n_rows, obs_share, exp_share, deviation, flagged)."""
    benford = {
        1: 0.301030, 2: 0.176091, 3: 0.124939, 4: 0.096910, 5: 0.079181,
        6: 0.066947, 7: 0.057992, 8: 0.051153, 9: 0.045757,
    }
    amounts = df.select(F.col(amount_col).alias("_amt")).filter(
        F.col("_amt") >= 1
    )
    counts = amounts.select(
        F.substring(F.floor(F.col("_amt")).cast("string"), 1, 1)
        .cast("int")
        .alias("digit")
    ).groupBy("digit").agg(F.count("*").cast("long").alias("_n"))
    # the 9-row counts relation feeds both the spine join and the total —
    # uncached, the total's re-aggregation would re-scan the corpus
    counts = persist(counts)
    total = counts.agg(F.sum("_n").cast("long").alias("_tot"))
    spine = df.sparkSession.range(1, 10).select(
        F.col("id").cast("int").alias("digit")
    )
    exp_share = F.lit(None).cast("double")
    for d, share in sorted(benford.items(), reverse=True):
        exp_share = F.when(F.col("digit") == d, F.lit(share)).otherwise(
            exp_share
        )
    obs = F.col("n_rows") / F.greatest(F.col("_tot"), F.lit(1)).cast("double")
    return (
        spine.join(F.broadcast(counts), "digit", "left")
        .crossJoin(F.broadcast(total))
        .select(
            "digit",
            F.coalesce(F.col("_n"), F.lit(0)).cast("long").alias("n_rows"),
            F.col("_tot"),
        )
        .select(
            "digit",
            "n_rows",
            F.round(obs, 6).alias("obs_share"),
            exp_share.alias("exp_share"),
            F.round(obs - exp_share, 6).alias("deviation"),
            (F.abs(obs - exp_share) > flag_threshold)
            .cast("long")
            .alias("flagged"),
        )
    )
