"""Active-set (inducing point) providers for Projected Process Approximation.

Parity: ActiveSetProvider.scala —
- random (``:48-56``): exact-size uniform sample,
- k-means (``:26-43``): cluster centers as inducing points,
- greedy (``:63-139``): Seeger et al. 2003 "Fast Forward Selection" info-gain
  scoring, one point per round, scored distributedly across experts.

A provider is a callable ``(ActiveSetContext) -> np.ndarray (m, d)``.
Strings 'random' | 'kmeans' | 'greedy' resolve via ``resolve_provider``; any
user callable with the same signature plugs in (the reference's strategy
interface, ActiveSetProvider.scala:13-20).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame

from . import telemetry
from .experts import Experts, sample_feature_rows
from .gp_math import expert_gram
from .kernel import Kernel
from .util.linalg import assert_sym_positive_definite


@dataclass
class ActiveSetContext:
    points: DataFrame  # normalized (label, features) relation
    experts: Experts
    kernel_factory: object  # () -> Kernel, effective kernel (incl. sigma2 noise)
    optimal_hyperparameters: np.ndarray
    active_set_size: int
    seed: int


def random_active_set(ctx: ActiveSetContext) -> np.ndarray:
    return sample_feature_rows(ctx.points, ctx.active_set_size, ctx.seed)


def _local_kmeans(
    X: np.ndarray,
    k: int,
    seed: int,
    max_iter: int = 20,
    init: np.ndarray | None = None,
) -> np.ndarray:
    """Driver-local Lloyd's algorithm with k-means++ seeding, for the small-
    data fast path (avoids ~10 s of Spark KMeans job overhead per fit).

    ``init``: optional (k, d) warm-start centers (standard Cartesian-k-means
    practice for OPQ alternations — centers move little once the rotation
    stabilizes, so Lloyd converges in 1-3 iterations instead of ~20).  Used
    only when its shape matches the clamped k; the default path is
    bit-identical to before the parameter existed."""
    rng = np.random.default_rng(seed)
    n = len(X)
    k = min(k, n)
    centers = np.empty((k, X.shape[1]))
    if init is not None and init.shape == (k, X.shape[1]):
        centers[:] = init
    else:
        centers[0] = X[rng.integers(n)]
        closest = np.full(n, np.inf)
        for i in range(1, k):
            d = np.einsum("ij,ij->i", X - centers[i - 1], X - centers[i - 1])
            np.minimum(closest, d, out=closest)
            total = closest.sum()
            if total <= 0:
                centers[i:] = X[rng.integers(n, size=k - i)]
                break
            centers[i] = X[np.searchsorted(np.cumsum(closest), rng.uniform() * total)]
    for _ in range(max_iter):
        d = (
            np.einsum("ij,ij->i", X, X)[:, None]
            - 2.0 * X @ centers.T
            + np.einsum("ij,ij->i", centers, centers)[None, :]
        )
        assign = np.argmin(d, axis=1)
        new_centers = centers.copy()
        # group members via ONE stable sort instead of k boolean-mask scans
        # (O(n log n) vs O(n·k)); stable keeps each cluster's rows in
        # ascending original order, so X[order[s:e]] is bit-identical to
        # X[assign == c] and the center means keep the exact same pairwise
        # summation — callers bake these centers into correctness oracles
        order = np.argsort(assign, kind="stable")
        sorted_assign = assign[order]
        starts = np.searchsorted(sorted_assign, np.arange(k), side="left")
        ends = np.searchsorted(sorted_assign, np.arange(k), side="right")
        for c in range(k):
            if ends[c] > starts[c]:
                new_centers[c] = X[order[starts[c] : ends[c]]].mean(axis=0)
        if np.allclose(new_centers, centers):
            break
        centers = new_centers
    return centers


def kmeans_active_set(ctx: ActiveSetContext, max_iter: int = 20) -> np.ndarray:
    """KMeansActiveSetProvider (ActiveSetProvider.scala:26-43): cluster
    centers of the training features.  Uses pyspark.ml KMeans on the
    distributed path; when the experts already live on the driver (small
    data), clusters locally instead — same semantics, zero Spark jobs."""
    from .experts import LocalExperts

    if isinstance(ctx.experts, LocalExperts):
        X = np.vstack([chunk_x for _, chunk_x in ctx.experts.chunks])
        return _local_kmeans(X, ctx.active_set_size, ctx.seed, max_iter)

    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    vecs = ctx.points.select(array_to_vector("features").alias("features"))
    model = KMeans(k=ctx.active_set_size, seed=ctx.seed, maxIter=max_iter).fit(vecs)
    return np.asarray(model.clusterCenters(), dtype=np.float64)


def _seeger_deltas(y, X, factory, active, x_opt, Kinv, inv_pdm, magic_vector,
                   sigma, sigma2) -> np.ndarray:
    """Per-point Seeger information-gain delta for one expert's chunk
    (ActiveSetProvider.scala:106-129) — the shared scoring kernel for the
    one-per-round and batched greedy selectors."""
    k = factory().set_hyperparameters(x_opt).set_training_vectors(X)
    cross = k.cross_kernel(active)  # (m, n)
    diag = k.training_kernel_diag()
    with np.errstate(invalid="ignore", divide="ignore"):
        p = np.einsum("mi,mi->i", cross, Kinv @ cross)
        q = np.einsum("mi,mi->i", cross, inv_pdm @ cross)
        mu = magic_vector @ cross
        li = np.sqrt(diag - p)
        ratio2 = (sigma / li) ** 2
        ksi = 1.0 / (ratio2 + 1.0 - q)
        kappa = ksi * (1.0 + 2.0 * ratio2)
        delta = -np.log(sigma / li) - (
            np.log(ksi) + ksi * (1.0 - kappa) / sigma2 * (y - mu) ** 2 - kappa + 2.0
        ) / 2.0
    return delta


def greedy_active_set(ctx: ActiveSetContext, batch: int = 1) -> np.ndarray:
    """GreedilyOptimizingActiveSetProvider (ActiveSetProvider.scala:63-139).

    Starts from one random point; each round scores every training point by
    the Seeger information-gain delta and appends the argmax.  Per round this
    costs one Gram reduction + one argmax reduction over the experts — m
    SEQUENTIAL rounds, the reference's known cost cliff
    (ActiveSetProvider.scala:72-79, one distributed job per added point;
    measured 46.8 s vs random's 3.3 s at m=64 on 10k rows).

    ``batch`` > 1 amortizes the cliff: each round appends the top-``batch``
    candidates by delta instead of one, cutting rounds (and jobs) by ~batch×.
    This is an explicit APPROXIMATION of pure greedy — the 2nd..B-th picks of
    a round are scored against the active set as of the round's START, not
    against the set including the round's earlier picks, so within-round
    redundancy (e.g. two near-identical high-gain points) is not penalized.
    Empirically RMSE-neutral at small B (regression-gated in
    tests/test_gpr_spark.py; bench.py reports the trade next to plain
    greedy).  Emits ``telemetry.event("active_set", "greedy", rounds=...)``
    with the number of selection rounds executed."""
    active = sample_feature_rows(ctx.points, 1, ctx.seed)
    x_opt = ctx.optimal_hyperparameters
    rounds = 0

    while len(active) < ctx.active_set_size:
        kern: Kernel = ctx.kernel_factory()
        kern.set_hyperparameters(x_opt).set_training_vectors(active)
        Kmm = kern.training_kernel()
        sigma2 = kern.white_noise_var
        m = len(active)
        # multi-RHS LU solve vs I instead of explicit inv (the ppa_solve /
        # Laplace-epilogue pattern, gp_math.py:181-210; VERDICT r11 #3):
        # same flop order, better conditioning behavior on the
        # near-singular K_mm that optimized hypers routinely produce.  The
        # m×m operator is still materialized — it ships to executors and
        # applies to every candidate chunk as one GEMM, so a factor-only
        # form would re-solve per chunk for no accuracy gain.
        Kinv = np.linalg.solve(Kmm, np.eye(m))

        factory, act = ctx.kernel_factory, active

        def gram_fn(y, X, _factory=factory, _act=act, _x=x_opt, _m=m):
            k = _factory().set_hyperparameters(_x).set_training_vectors(X)
            g, v = expert_gram(y, X, k, _act)
            return np.concatenate([g.ravel(), v])

        flat = ctx.experts.sum_over_experts(gram_fn, m * m + m)
        KmnKnm = flat[: m * m].reshape(m, m)
        Kmny = flat[m * m :]

        pdm = sigma2 * Kmm + KmnKnm
        assert_sym_positive_definite(pdm)
        # one factorization serves both outputs: solve pdm against
        # [K_mn y | I] (ppa_solve's exact shape) instead of a separate
        # inv(pdm) + solve(pdm, Kmny)
        sol = np.linalg.solve(pdm, np.hstack([Kmny.reshape(m, 1), np.eye(m)]))
        magic_vector = sol[:, 0]
        inv_pdm = sol[:, 1:]
        sigma = np.sqrt(sigma2)
        b = min(batch, ctx.active_set_size - m)
        # Duplicate screening (pre-dedup corpora): a candidate row bitwise
        # equal to an active row would make the next round's Kmm exactly
        # singular (RBF diag carries no jitter).  In exact arithmetic its
        # delta is NaN (li == 0), but in floating point diag - p can come
        # out slightly positive, yielding a finite delta ≈ 0 that BEATS
        # every negative-gain fresh candidate — so screen winners against
        # the active rows (a small bytes-set shipped with the closure).
        # The check is LAZY: only candidates that actually win a slot get
        # the bytes test (O(b) per chunk, not O(n) — an eager full-chunk
        # mask measurably slowed the provider bench), and within-batch
        # duplicates are deduped after the reduction.
        act_keys = frozenset(r.tobytes() for r in active)
        common = dict(
            _factory=factory, _act=act, _x=x_opt, _Kinv=Kinv,
            _inv_pdm=inv_pdm, _mv=magic_vector, _sigma=sigma, _sigma2=sigma2,
        )

        def _screen_top(delta, X, want, keys):
            """Indices of the top-``want`` finite-delta rows whose bytes are
            NOT in ``keys``, ties by arrival order; bytes-checks only the
            rows actually considered (winners + skipped twins)."""
            finite = np.where(~np.isnan(delta))[0]
            if len(finite) == 0:
                return []
            order = finite[np.argsort(-delta[finite], kind="stable")]
            out = []
            for i in order:
                # contiguous float64 bytes — the exact layout act_keys holds
                if np.ascontiguousarray(X[i], dtype=np.float64).tobytes() not in keys:
                    out.append(int(i))
                    if len(out) == want:
                        break
            return out

        def topk_fn(y, X, _b=b, _kw=common, _keys=act_keys,
                    _screen=_screen_top):
            delta = _seeger_deltas(
                y, X, _kw["_factory"], _kw["_act"], _kw["_x"], _kw["_Kinv"],
                _kw["_inv_pdm"], _kw["_mv"], _kw["_sigma"], _kw["_sigma2"],
            )
            sel = _screen(delta, X, _b, _keys)
            if not sel:
                return np.empty(0), np.empty((0, X.shape[1]))
            idx = np.asarray(sel)
            return delta[idx], X[idx]

        try:
            new_rows = ctx.experts.topk_over_experts(topk_fn, b)
        except ValueError:
            # every remaining candidate duplicates an active row: the
            # data has fewer distinct rows than requested — stop.
            break
        # within-batch dedup: keep the first (highest-delta) copy
        seen = set(act_keys)
        dedup = []
        for r in new_rows:
            key = r.tobytes()
            if key not in seen:
                seen.add(key)
                dedup.append(r)
        if not dedup:
            break
        new_rows = np.asarray(dedup, dtype=np.float64)
        active = np.vstack([active, new_rows])
        rounds += 1

    telemetry.event("active_set", "greedy", rounds=rounds)
    return active


def greedy_batch_active_set(ctx: ActiveSetContext) -> np.ndarray:
    """'greedy_batch': the batched greedy selector at B=8 — ~8× fewer
    sequential rounds/jobs than 'greedy' with the documented within-round
    approximation (see greedy_active_set)."""
    return greedy_active_set(ctx, batch=8)


_PROVIDERS = {
    "random": random_active_set,
    "kmeans": kmeans_active_set,
    "greedy": greedy_active_set,
    "greedy_batch": greedy_batch_active_set,
}


def resolve_provider(spec):
    if callable(spec):
        return spec
    try:
        return _PROVIDERS[spec]
    except KeyError:
        raise ValueError(
            f"unknown active set provider {spec!r}; expected one of {sorted(_PROVIDERS)} or a callable"
        ) from None
