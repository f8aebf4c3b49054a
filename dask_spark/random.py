"""``da.random`` distribution family (reference: dask/array/random.py
— the RandomState/Generator surface, 1,113 lines wrapping one numpy
bitgen per chunk).

Spark-first re-expression: every draw is a STATELESS counter-based
function of (row, dim, stream, seed) — two LCG mixing rounds producing
a uniform in (0,1), then a closed-form inverse-CDF transform — built
as plain Column expressions over ``spark.range``. Map-only, no RNG
state, no shuffle, and partitioning-INVARIANT: dask's per-chunk bitgen
spawning makes results depend on the chunking; the counter design is
strictly stronger (rechunk never changes values) and lets a SQL oracle
replay any draw bit-for-bit (see queries.py arr_random_*).

Discrete distributions with no closed-form inverse (poisson, binomial)
precompute their CDF as DRIVER literals (the parameters are scalars)
and lower the draw to a searchsorted count — codegen'd comparison
chain, O(support) per element, same lowering as Series.searchsorted.

Distributions that genuinely need rejection sampling (gamma, beta,
chisquare, f, standard_t, vonmises, zipf and their compositions —
noncentral/negative_binomial) run the SAME counter design inside an
Arrow ``mapInPandas`` kernel: attempt ``t`` of element ``(row, dim)``
consumes streams ``base + t·stride``, so the draw is still a pure
function of (row, dim, stream, seed) — partitioning-invariant like
the closed-form family (STRICTLY stronger than dask's per-chunk
bitgen, where values change under rechunk), just not SQL-replayable
(the oracle can't loop); their registry queries are rows-only by
design. wald / logseries / hypergeometric need no rejection at all
(closed 3-uniform transform, driver-CDF literals) and stay in the
fully-oracled expression family.
"""

from __future__ import annotations

import math

import numpy as np
import pyspark.sql.functions as F
from pyspark.sql import Column

from dask_spark.array import DArray, _counter_uniform

_M31 = (1 << 31) - 1
_TWO_PI = 2.0 * math.pi
# Rejection-attempt cap: every sampler below accepts with prob >= 0.5
# per attempt (Marsaglia-Tsang is ~0.95+), so 64 attempts leaves
# < 2^-64 unresolved mass — unreachable; hitting it is a bug, not
# bad luck, hence the RuntimeError rather than a silent fallback.
_MAX_REJECT = 64


def _py_uniform(i: int, j: int, k: int, seed: int) -> float:
    """Driver-side replica of _counter_uniform — same integer mix, so
    driver decisions (choice without replacement) reproduce engine
    draws exactly."""
    x = (
        (i & _M31) * 1103515245 + (i >> 31) * 98765431
        + ((j * 12345 + k * 1013904223 + (seed & _M31) * 2654435761) & _M31)
    ) & _M31
    x ^= x >> 16
    x = (x * 69069) & _M31
    x ^= x >> 13
    x = (x * 1103515245) & _M31
    x ^= x >> 16
    return (x + 0.5) / (_M31 + 1)


def counter_uniform_sql(i: str, j, k: int, seed: int) -> str:
    """DuckDB SQL twin of _counter_uniform — lets every oracle replay
    engine draws bit-for-bit (queries.py arr_random_*). ``j`` may be an
    int or a SQL expression (a dim column from range(dim))."""
    base = (k * 1013904223 + (seed & _M31) * 2654435761) & _M31
    if isinstance(j, int):
        add = str((j * 12345 + base) & _M31)
    else:
        add = f"((({j}) * 12345 + {base}) & 2147483647)"
    x = (f"((({i} & 2147483647) * 1103515245 + ({i} >> 31) * 98765431 "
         f"+ {add}) & 2147483647)")
    x = f"xor({x}, {x} >> 16)"
    x = f"(({x} * 69069) & 2147483647)"
    x = f"xor({x}, {x} >> 13)"
    x = f"(({x} * 1103515245) & 2147483647)"
    x = f"xor({x}, {x} >> 16)"
    return f"(({x} + 0.5) / 2147483648.0)"


def _np_uniform(ids, j: int, k: int, seed: int):
    """Vectorized numpy replica of _counter_uniform — the identical
    31-bit xor-shift mix over int64 (every product < 2^63), so kernel
    draws depend only on (row, dim, stream, seed): deterministic and
    partitioning-invariant, like the Column-expression family."""
    i = np.asarray(ids, dtype=np.int64)
    add = (j * 12345 + k * 1013904223 + (seed & _M31) * 2654435761) & _M31
    x = ((i & _M31) * 1103515245 + (i >> 31) * 98765431 + add) & _M31
    x = x ^ (x >> 16)
    x = (x * 69069) & _M31
    x = x ^ (x >> 13)
    x = (x * 1103515245) & _M31
    x = x ^ (x >> 16)
    return (x + 0.5) / float(_M31 + 1)


def _np_normal(ids, j: int, seed: int, base: int):
    """Box–Muller over streams (base, base+1) — the kernel twin of the
    expression family's normal."""
    u1 = _np_uniform(ids, j, base, seed)
    u2 = _np_uniform(ids, j, base + 1, seed)
    return np.sqrt(-2.0 * np.log(u1)) * np.cos(_TWO_PI * u2)


def _np_gamma(ids, j: int, shape, seed: int, base: int):
    """standard_gamma via Marsaglia–Tsang (2000) squeeze rejection —
    the same algorithm numpy's own standard_gamma runs per element
    (reference dask/array/random.py:171 delegates to it per chunk).
    ``shape`` may be a scalar or a per-element array (the Poisson
    mixtures need vector shape). Attempt ``t`` consumes streams
    base+4t .. base+4t+2; the shape<1 boost uses one extra stream at
    base + 4*_MAX_REJECT, so a composed draw can reserve
    [base, base + 4*_MAX_REJECT] and never collide."""
    sh = np.broadcast_to(
        np.asarray(shape, dtype=np.float64), np.shape(ids)
    )
    if np.any(sh <= 0.0):
        raise ValueError("gamma shape must be positive")
    boost = sh < 1.0
    d = np.where(boost, sh + 1.0, sh) - 1.0 / 3.0
    c = 1.0 / np.sqrt(9.0 * d)
    out = np.empty(np.shape(ids), dtype=np.float64)
    pending = np.ones(np.shape(ids), dtype=bool)
    for t in range(_MAX_REJECT):
        if not pending.any():
            break
        idx = np.flatnonzero(pending)
        ii = np.asarray(ids)[idx]
        x = _np_normal(ii, j, seed, base + 4 * t)
        v = (1.0 + c[idx] * x) ** 3
        u = _np_uniform(ii, j, base + 4 * t + 2, seed)
        pos = v > 0.0
        ok = pos & (
            np.log(u)
            < 0.5 * x * x + d[idx] - d[idx] * v
            + d[idx] * np.log(np.where(pos, v, 1.0))
        )
        acc = idx[ok]
        out[acc] = d[acc] * v[ok]
        pending[acc] = False
    if pending.any():
        raise RuntimeError("gamma rejection failed to converge")
    if boost.any():
        ub = _np_uniform(ids, j, base + 4 * _MAX_REJECT, seed)
        out = np.where(
            boost, out * ub ** (1.0 / np.where(boost, sh, 1.0)), out
        )
    return out


_LGAMMA = np.frompyfunc(math.lgamma, 1, 1)


def _np_poisson(ids, j: int, lam, seed: int, base: int):
    """Poisson with per-element rate. lam < 10: inverse-CDF recurrence
    — k = #{cdf thresholds < u}, the same searchsorted semantics as
    the scalar-lam driver-literal path (one uniform at stream base;
    the loop runs max(k) times over the batch). lam >= 10: Hörmann's
    PTRS transformed rejection (1993) — attempt t consumes streams
    base+1+2t, base+2+2t with acceptance > 0.9 per attempt and NO
    upper rate limit, so gamma–Poisson mixtures can't crash on an
    unlucky tail draw (the old exp(-lam) recurrence underflowed past
    lam ~ 700 — reachable stochastically for negative_binomial with
    large nsucc). Both branches stay pure functions of
    (row, dim, stream, seed), so partitioning invariance holds."""
    ids = np.asarray(ids, dtype=np.int64)
    lam = np.broadcast_to(np.asarray(lam, dtype=np.float64),
                          np.shape(ids))
    if np.any(lam < 0.0):
        raise ValueError("poisson rate must be non-negative")
    out = np.zeros(np.shape(ids), dtype=np.float64)
    small = lam < 10.0
    if small.any():
        si = np.flatnonzero(small)
        lm = lam[si]
        u = _np_uniform(ids[si], j, base, seed)
        k = np.zeros(len(si), dtype=np.float64)
        pmf = np.exp(-lm)
        cdf = pmf.copy()
        for it in range(1, 100_000):
            active = u > cdf
            if not active.any():
                break
            pmf = pmf * (lm / it)
            cdf = cdf + pmf
            k = k + active
        out[si] = k
    if not small.all():
        bi = np.flatnonzero(~small)
        lm = lam[bi]
        loglam = np.log(lm)
        b = 0.931 + 2.53 * np.sqrt(lm)
        a = -0.059 + 0.02483 * b
        inv_alpha = 1.1239 + 1.1328 / (b - 3.4)
        v_r = 0.9277 - 3.6224 / (b - 2.0)
        pending = np.ones(len(bi), dtype=bool)
        for t in range(_MAX_REJECT):
            if not pending.any():
                break
            idx = np.flatnonzero(pending)
            ii = ids[bi[idx]]
            u = _np_uniform(ii, j, base + 1 + 2 * t, seed) - 0.5
            v = _np_uniform(ii, j, base + 2 + 2 * t, seed)
            us = 0.5 - np.abs(u)
            kk = np.floor(
                (2.0 * a[idx] / us + b[idx]) * u + lm[idx] + 0.43
            )
            fast = (us >= 0.07) & (v <= v_r[idx]) & (kk >= 0.0)
            squeeze_out = (kk < 0.0) | ((us < 0.013) & (v > us))
            lhs = np.log(
                v * inv_alpha[idx] / (a[idx] / (us * us) + b[idx])
            )
            # clamp for the lgamma ufunc: kk < 0 rows are already
            # squeeze-rejected, but lgamma(<=0) raises a domain error
            kk_safe = np.where(kk >= 0.0, kk, 0.0)
            rhs = (
                kk_safe * loglam[idx] - lm[idx]
                - _LGAMMA(kk_safe + 1.0).astype(np.float64)
            )
            ok = fast | (~squeeze_out & (lhs <= rhs))
            acc = idx[ok]
            out[bi[acc]] = kk[ok]
            pending[acc] = False
        if pending.any():
            raise RuntimeError("poisson rejection failed to converge")
    return out


def _np_vonmises(ids, j: int, mu: float, kappa: float, seed: int,
                 base: int):
    """Best–Fisher (1979) wrapped-Cauchy envelope rejection — numpy's
    own vonmises algorithm. Attempt t consumes streams base+3t..+2;
    output wrapped to [-pi, pi] (numpy's convention)."""
    if kappa < 1e-8:  # numpy: circular uniform in this regime
        return np.pi * (2.0 * _np_uniform(ids, j, base, seed) - 1.0)
    r = 1.0 + math.sqrt(1.0 + 4.0 * kappa * kappa)
    rho = (r - math.sqrt(2.0 * r)) / (2.0 * kappa)
    s = (1.0 + rho * rho) / (2.0 * rho)
    out = np.empty(np.shape(ids), dtype=np.float64)
    pending = np.ones(np.shape(ids), dtype=bool)
    for t in range(_MAX_REJECT):
        if not pending.any():
            break
        idx = np.flatnonzero(pending)
        ii = np.asarray(ids)[idx]
        u1 = _np_uniform(ii, j, base + 3 * t, seed)
        z = np.cos(np.pi * u1)
        w = (1.0 + s * z) / (s + z)
        y = kappa * (s - w)
        u2 = _np_uniform(ii, j, base + 3 * t + 1, seed)
        ok = (y * (2.0 - y) - u2 > 0.0) | (np.log(y / u2) + 1.0 - y >= 0.0)
        acc = idx[ok]
        u3 = _np_uniform(np.asarray(ids)[acc], j, base + 3 * t + 2, seed)
        val = mu + np.sign(u3 - 0.5) * np.arccos(w[ok])
        out[acc] = np.mod(val + np.pi, 2.0 * np.pi) - np.pi
        pending[acc] = False
    if pending.any():
        raise RuntimeError("vonmises rejection failed to converge")
    return out


def _np_zipf(ids, j: int, a: float, seed: int, base: int):
    """Zipf via Devroye's rejection from the Pareto envelope —
    numpy's own algorithm. Attempt t consumes streams base+2t, +1."""
    if a <= 1.0:
        raise ValueError("zipf requires a > 1")
    am1 = a - 1.0
    b = 2.0 ** am1
    out = np.empty(np.shape(ids), dtype=np.float64)
    pending = np.ones(np.shape(ids), dtype=bool)
    for t in range(_MAX_REJECT):
        if not pending.any():
            break
        idx = np.flatnonzero(pending)
        ii = np.asarray(ids)[idx]
        u = 1.0 - _np_uniform(ii, j, base + 2 * t, seed)
        v = _np_uniform(ii, j, base + 2 * t + 1, seed)
        x = np.floor(u ** (-1.0 / am1))
        ok = x >= 1.0
        tt = np.where(ok, (1.0 + 1.0 / np.where(ok, x, 1.0)) ** am1, 0.0)
        ok &= v * x * (tt - 1.0) / (b - 1.0) <= tt / b
        acc = idx[ok]
        out[acc] = x[ok]
        pending[acc] = False
    if pending.any():
        raise RuntimeError("zipf rejection failed to converge")
    return out


class RandomState:
    """Seeded distribution source producing (n, dim) DArrays
    (reference: dask/array/random.py RandomState). ``dim=1`` gives the
    1-D column-vector form every DArray reduction understands."""

    def __init__(self, spark, seed: int = 0):
        self._spark = spark
        self._seed = int(seed)

    # ---- plumbing -----------------------------------------------------
    def _range(self, n: int, npartitions: int | None):
        return self._spark.range(
            0, n, 1,
            npartitions or self._spark.sparkContext.defaultParallelism,
        )

    @staticmethod
    def _parse_size(n, dim: int):
        """dask-style ``size``: (rows,) or (rows, dim) → flat draw;
        an N-tuple also returns the trailing inner shape so the caller
        can reshape to an NDArray."""
        inner = None
        if isinstance(n, (tuple, list)):
            size = tuple(int(s) for s in n)
            if len(size) == 0:
                raise ValueError("empty size")
            n = size[0]
            dim = math.prod(size[1:]) if len(size) > 1 else 1
            if len(size) > 2:
                inner = size[1:]
        return n, dim, inner

    def _draw(self, n, dim: int, fn, npartitions: int | None = None
              ) -> DArray:
        """fn(id_column, stream_j) -> Column; one stream per dim.
        ``n`` may be a dask-style ``size`` tuple: (rows,) or
        (rows, dim) produce the usual DArray; an N-tuple returns an
        NDArray with the trailing axes as the inner shape (the draws
        are identical to the flat (rows, prod(inner)) form — the
        counter never sees the shape)."""
        n, dim, inner = self._parse_size(n, dim)
        rng = self._range(n, npartitions)
        idc = F.col("id")
        comps = [fn(idc, j) for j in range(dim)]
        sdf = rng.select(
            F.col("id").alias("row_id"), F.array(*comps).alias("values")
        )
        return self._wrap(sdf, inner)

    def _wrap(self, sdf, inner) -> DArray:
        out = DArray(sdf, "values", "row_id")
        if inner is not None:
            from dask_spark.ndarray import NDArray

            return NDArray.from_darray(out, math.prod(inner)).reshape(inner)
        return out

    def _u(self, idc, j: int, k: int = 0) -> Column:
        return _counter_uniform(idc, j, k, self._seed)

    def _draw_np(self, n, dim: int, fn, npartitions: int | None = None
                 ) -> DArray:
        """Arrow-kernel twin of _draw for samplers with no closed-form
        inverse: ``fn(ids_ndarray, stream_j) -> float64 ndarray`` runs
        inside mapInPandas per batch. Same counter contract — the
        value of element (row, j) never depends on which partition or
        batch it lands in — so rechunk/repartition invariance holds
        exactly as in the expression family. Map-only: no shuffle, no
        RNG state, nothing collected."""
        import pandas as pd

        n, dim, inner = self._parse_size(n, dim)
        rng = self._range(n, npartitions)

        def kernel(batches):
            with np.errstate(divide="ignore", invalid="ignore"):
                for pdf in batches:
                    if not len(pdf):
                        continue
                    ids = pdf["id"].to_numpy(dtype="int64")
                    cols = [fn(ids, j) for j in range(dim)]
                    yield pd.DataFrame({
                        "row_id": ids,
                        "values": list(np.stack(cols, axis=1)),
                    })

        sdf = rng.mapInPandas(
            kernel, "row_id long, values array<double>"
        )
        out = DArray(sdf, "values", "row_id")
        if inner is not None:
            from dask_spark.ndarray import NDArray

            return NDArray.from_darray(out, math.prod(inner)).reshape(inner)
        return out

    # ---- continuous closed-form inverses ------------------------------
    def random_sample(self, n: int, dim: int = 1,
                      npartitions: int | None = None) -> DArray:
        return self._draw(n, dim, lambda i, j: self._u(i, j), npartitions)

    random = random_sample
    rand = random_sample

    def uniform(self, low: float = 0.0, high: float = 1.0, n: int = 1,
                dim: int = 1, npartitions: int | None = None) -> DArray:
        lo, span = float(low), float(high) - float(low)
        return self._draw(
            n, dim,
            lambda i, j: F.lit(lo) + F.lit(span) * self._u(i, j),
            npartitions,
        )

    def normal(self, loc: float = 0.0, scale: float = 1.0, n: int = 1,
               dim: int = 1, npartitions: int | None = None) -> DArray:
        """Box–Muller over two independent streams per element — the
        exact transform random_normal (array.py) ships; loc/scale are
        an affine map on top."""

        def z(i, j):
            u1, u2 = self._u(i, j, 0), self._u(i, j, 1)
            return F.lit(loc) + F.lit(scale) * (
                F.sqrt(F.lit(-2.0) * F.log(u1))
                * F.cos(F.lit(_TWO_PI) * u2)
            )

        return self._draw(n, dim, z, npartitions)

    def standard_normal(self, n: int, dim: int = 1,
                        npartitions: int | None = None) -> DArray:
        return self.normal(0.0, 1.0, n, dim, npartitions)

    def lognormal(self, mean: float = 0.0, sigma: float = 1.0, n: int = 1,
                  dim: int = 1, npartitions: int | None = None) -> DArray:
        def z(i, j):
            u1, u2 = self._u(i, j, 0), self._u(i, j, 1)
            g = F.sqrt(F.lit(-2.0) * F.log(u1)) * F.cos(F.lit(_TWO_PI) * u2)
            return F.exp(F.lit(mean) + F.lit(sigma) * g)

        return self._draw(n, dim, z, npartitions)

    def exponential(self, scale: float = 1.0, n: int = 1, dim: int = 1,
                    npartitions: int | None = None) -> DArray:
        return self._draw(
            n, dim,
            lambda i, j: F.lit(-float(scale)) * F.log(self._u(i, j)),
            npartitions,
        )

    def standard_exponential(self, n: int, dim: int = 1,
                             npartitions: int | None = None) -> DArray:
        return self.exponential(1.0, n, dim, npartitions)

    def rayleigh(self, scale: float = 1.0, n: int = 1, dim: int = 1,
                 npartitions: int | None = None) -> DArray:
        return self._draw(
            n, dim,
            lambda i, j: F.lit(float(scale))
            * F.sqrt(F.lit(-2.0) * F.log(self._u(i, j))),
            npartitions,
        )

    def standard_cauchy(self, n: int, dim: int = 1,
                        npartitions: int | None = None) -> DArray:
        return self._draw(
            n, dim,
            lambda i, j: F.tan(F.lit(math.pi) * (self._u(i, j) - F.lit(0.5))),
            npartitions,
        )

    def gumbel(self, loc: float = 0.0, scale: float = 1.0, n: int = 1,
               dim: int = 1, npartitions: int | None = None) -> DArray:
        return self._draw(
            n, dim,
            lambda i, j: F.lit(loc)
            - F.lit(scale) * F.log(-F.log(self._u(i, j))),
            npartitions,
        )

    def laplace(self, loc: float = 0.0, scale: float = 1.0, n: int = 1,
                dim: int = 1, npartitions: int | None = None) -> DArray:
        def z(i, j):
            u = self._u(i, j) - F.lit(0.5)
            return F.lit(loc) - F.lit(scale) * F.signum(u) * F.log(
                F.lit(1.0) - F.lit(2.0) * F.abs(u)
            )

        return self._draw(n, dim, z, npartitions)

    def logistic(self, loc: float = 0.0, scale: float = 1.0, n: int = 1,
                 dim: int = 1, npartitions: int | None = None) -> DArray:
        def z(i, j):
            u = self._u(i, j)
            return F.lit(loc) + F.lit(scale) * F.log(u / (F.lit(1.0) - u))

        return self._draw(n, dim, z, npartitions)

    def pareto(self, a: float, n: int = 1, dim: int = 1,
               npartitions: int | None = None) -> DArray:
        """numpy pareto is the Lomax: (1-u)^(-1/a) - 1."""
        return self._draw(
            n, dim,
            lambda i, j: F.pow(F.lit(1.0) - self._u(i, j), F.lit(-1.0 / a))
            - F.lit(1.0),
            npartitions,
        )

    def power(self, a: float, n: int = 1, dim: int = 1,
              npartitions: int | None = None) -> DArray:
        return self._draw(
            n, dim,
            lambda i, j: F.pow(self._u(i, j), F.lit(1.0 / a)),
            npartitions,
        )

    def weibull(self, a: float, n: int = 1, dim: int = 1,
                npartitions: int | None = None) -> DArray:
        return self._draw(
            n, dim,
            lambda i, j: F.pow(-F.log(self._u(i, j)), F.lit(1.0 / a)),
            npartitions,
        )

    def triangular(self, left: float, mode: float, right: float, n: int = 1,
                   dim: int = 1, npartitions: int | None = None) -> DArray:
        l, m, r = float(left), float(mode), float(right)
        fc = (m - l) / (r - l)

        def z(i, j):
            u = self._u(i, j)
            lo = F.lit(l) + F.sqrt(u * F.lit((r - l) * (m - l)))
            hi = F.lit(r) - F.sqrt(
                (F.lit(1.0) - u) * F.lit((r - l) * (r - m))
            )
            return F.when(u < F.lit(fc), lo).otherwise(hi)

        return self._draw(n, dim, z, npartitions)

    def geometric(self, p: float, n: int = 1, dim: int = 1,
                  npartitions: int | None = None) -> DArray:
        """Trials to first success, support {1, 2, …}:
        floor(log(1-u)/log(1-p)) + 1."""
        if not 0.0 < p <= 1.0:
            raise ValueError("p must be in (0, 1]")
        if p == 1.0:
            return self._draw(n, dim, lambda i, j: F.lit(1.0), npartitions)
        return self._draw(
            n, dim,
            lambda i, j: F.floor(
                F.log(F.lit(1.0) - self._u(i, j)) / F.lit(math.log(1.0 - p))
            ).cast("double") + F.lit(1.0),
            npartitions,
        )

    # ---- integer draws ------------------------------------------------
    def integers(self, low: int, high: int | None = None, n: int = 1,
                 dim: int = 1, npartitions: int | None = None) -> DArray:
        """Uniform integers in [low, high) (numpy Generator.integers)."""
        if high is None:
            low, high = 0, low
        span = int(high) - int(low)
        if span <= 0:
            raise ValueError("high must exceed low")
        return self._draw(
            n, dim,
            lambda i, j: F.floor(self._u(i, j) * F.lit(float(span)))
            .cast("double") + F.lit(float(low)),
            npartitions,
        )

    randint = integers

    # ---- driver-CDF discrete draws ------------------------------------
    @staticmethod
    def poisson_cdf(lam: float) -> list[float]:
        """Driver-side CDF literals for Poisson(lam), truncated where
        the tail mass drops below 1e-12 (draws beyond the truncation
        clamp to the last bucket — probability < 1e-12)."""
        if lam <= 0:
            raise ValueError("lam must be positive")
        if lam > 700:
            # exp(-lam) underflows to 0.0 past ~745 (all thresholds
            # collapse to 0 and every draw returns the clamp bucket),
            # and leaves denormal tail mass well before that — the
            # literal path is only trustworthy while exp(-lam) is a
            # normal double. poisson() routes larger rates to PTRS.
            raise ValueError(
                "poisson with lam > 700: exp(-lam) underflow breaks "
                "the CDF literal — poisson() routes such rates to the "
                "PTRS rejection kernel instead of this literal path"
            )
        pmf = math.exp(-lam)
        cdf, acc, k = [], pmf, 0
        while acc < 1.0 - 1e-12 and k < lam + 12 * math.sqrt(lam) + 25:
            cdf.append(acc)
            k += 1
            pmf *= lam / k
            acc += pmf
        return cdf

    @staticmethod
    def binomial_cdf(trials: int, p: float) -> list[float]:
        """Threshold list cdf(0..trials-1): the draw is #{thresholds
        < u}, so at most ``trials`` entries keeps every draw inside
        the support. Log-space pmf recurrence: stable for all
        (trials, p); tail truncated below 1e-12 mass."""
        if not 0.0 <= p <= 1.0:
            raise ValueError("p must be in [0, 1]")
        if trials > 2000:
            raise ValueError(
                "binomial with n > 2000: the CDF literal has O(n) terms "
                "— use normal(loc=n*p, scale=sqrt(n*p*(1-p))) rounded"
            )
        if p == 0.0:
            return []               # always 0
        if p == 1.0:
            return [0.0] * trials   # always trials
        thresholds = []
        logpmf = trials * math.log1p(-p)
        acc = math.exp(logpmf)      # cdf(0)
        for k in range(trials):
            thresholds.append(acc)
            if acc >= 1.0 - 1e-12:
                break
            logpmf += (
                math.log(trials - k) - math.log(k + 1)
                + math.log(p) - math.log1p(-p)
            )
            acc = min(1.0, acc + math.exp(logpmf))
        return thresholds

    @staticmethod
    def _staged(expr: Column, fn) -> Column:
        """Evaluate ``expr`` ONCE and hand it to ``fn`` as a lambda
        variable — a single-element ``transform`` used as a let-
        binding (the quantize_int8 staging trick, functions/vector.py).
        Codegen emits the expression a single time; the lambda body
        runs interpreted, which is the point: it caps the generated
        method size where inlining would cross Janino's 64 KB limit.
        Values are bit-identical either way, so oracles are
        unaffected."""
        return F.element_at(F.transform(F.array(expr), fn), 1)

    @staticmethod
    def _searchsorted(u: Column, cdf: list[float]) -> Column:
        """k = #{cdf values < u} as a codegen comparison chain (the
        Series.searchsorted lowering) — the inverse-CDF draw for any
        driver-literal distribution."""
        expr = F.lit(0)
        for c in cdf:
            expr = expr + F.when(u > F.lit(c), 1).otherwise(0)
        return expr.cast("double")

    def poisson(self, lam: float = 1.0, n: int = 1, dim: int = 1,
                npartitions: int | None = None) -> DArray:
        """lam <= 700: driver-literal CDF → codegen searchsorted
        chain (fully SQL-replayable; exp(-lam) still a normal double).
        Larger rates route to the PTRS rejection kernel (_np_poisson)
        — same counter contract and partitioning invariance, just not
        expressible in the oracle, like the gamma family."""
        lam = float(lam)
        if lam > 700:
            seed = self._seed
            return self._draw_np(
                n, dim,
                lambda ids, j: _np_poisson(ids, j, lam, seed, 0),
                npartitions,
            )
        cdf = self.poisson_cdf(lam)
        return self._draw(
            n, dim,
            lambda i, j: self._searchsorted(self._u(i, j), cdf),
            npartitions,
        )

    def binomial(self, trials: int, p: float, n: int = 1, dim: int = 1,
                 npartitions: int | None = None) -> DArray:
        cdf = self.binomial_cdf(int(trials), float(p))
        return self._draw(
            n, dim,
            lambda i, j: self._searchsorted(self._u(i, j), cdf),
            npartitions,
        )

    # ---- choice / permutation ----------------------------------------
    def choice(self, a, n: int = 1, dim: int = 1, replace: bool = True,
               p: list[float] | None = None,
               npartitions: int | None = None) -> DArray:
        """Sample from a literal population ``a`` (int → range(a), like
        numpy). With replacement: uniform index or weighted
        inverse-CDF, map-only. Without replacement: the population is
        driver data by contract — the draw replays the SAME counter
        mix driver-side (one key per element, take the n smallest), so
        engine and driver agree bit-for-bit."""
        vals = list(range(a)) if isinstance(a, int) else list(a)
        if not vals:
            raise ValueError("a must be non-empty")
        if not replace:
            if n > len(vals):
                raise ValueError("cannot take more than len(a) without "
                                 "replacement")
            if p is not None:
                # Efraimidis–Spirakis A-Res weighted reservoir: item i
                # keys u_i^(1/w_i), take the n LARGEST keys — the
                # standard one-pass weighted sample without
                # replacement. Same driver replay of the counter mix
                # as the uniform path (population is driver data by
                # contract), so engine draws reproduce bit-for-bit.
                if len(p) != len(vals):
                    raise ValueError("p length must match a")
                if any(w < 0 for w in p):
                    raise ValueError("weights must be non-negative")
                if abs(sum(p) - 1.0) > 1e-8:
                    raise ValueError("probabilities do not sum to 1")
                if sum(1 for w in p if w > 0) < n:
                    raise ValueError(
                        "fewer positive-weight items than draws"
                    )
                keyed = sorted(
                    range(len(vals)),
                    key=lambda i: -(
                        _py_uniform(i, 0, 0, self._seed)
                        ** (1.0 / p[i]) if p[i] > 0 else 0.0
                    ),
                )
            else:
                keyed = sorted(
                    range(len(vals)),
                    key=lambda i: _py_uniform(i, 0, 0, self._seed),
                )
            chosen = [float(vals[i]) for i in keyed[:n]]
            rng = self._range(n, npartitions)
            lit = F.array(*[F.lit(v) for v in chosen])
            sdf = rng.select(
                F.col("id").alias("row_id"),
                F.array(F.element_at(lit, F.col("id").cast("int") + 1))
                .alias("values"),
            )
            return DArray(sdf, "values", "row_id")
        arr_lit = F.array(*[F.lit(float(v)) for v in vals])
        if p is None:
            def idx(i, j):
                return F.floor(
                    self._u(i, j) * F.lit(float(len(vals)))
                ).cast("int")
        else:
            if len(p) != len(vals):
                raise ValueError("p length must match a")
            if any(w < 0 for w in p):
                raise ValueError("weights must be non-negative")
            if abs(sum(p) - 1.0) > 1e-8:
                raise ValueError("probabilities do not sum to 1")
            tot = float(sum(p))
            cdf, acc = [], 0.0
            for w in p[:-1]:
                acc += float(w) / tot
                cdf.append(acc)

            def idx(i, j):
                return self._searchsorted(self._u(i, j), cdf).cast("int")

        return self._draw(
            n, dim,
            lambda i, j: F.element_at(arr_lit, idx(i, j) + 1),
            npartitions,
        )

    def permutation(self, x, npartitions: int | None = None) -> DArray:
        """Random permutation (reference: dask/array/random.py
        permutation → shuffle_slice). int n → permuted arange(n).
        Fully distributed: each element draws one counter key; because
        the key is uniform in (0,1) BY CONSTRUCTION, the range bucket
        is just floor(key·nb) — balanced, deterministic, no quantile
        probe and no binary-search layers (the generic
        with_global_index path re-inlines a computed order key into
        every bucket comparison, and it caches no bucketed frame —
        measured 19s vs 2s at n=5000). One tiny per-bucket counts job bakes the
        offsets; the per-bucket window does the rest."""
        from pyspark.sql import Window

        if not isinstance(x, int):
            # permute an existing DArray/NDArray along axis 0
            # (reference random.py:301 delegates to shuffle_slice):
            # draw a permutation of the dense row ids and JOIN — one
            # shuffle carries the collection, the permutation side is
            # the tiny (n, 1) id map. out[dst] = x[perm[dst]].
            m = x._materialize() if hasattr(x, "_materialize") else x
            sdf, col, id_ = m._sdf, m._col, m._id
            if id_ is None:
                raise ValueError("permutation needs dense 0-based ids")
            n = sdf.count()
            perm = self.permutation(n, npartitions)
            id_dt = dict(sdf.dtypes)[id_]
            src = perm._sdf.select(
                F.col("row_id").alias("__dst"),
                F.element_at("values", 1).cast(id_dt).alias("__srcid"),
            )
            out_sdf = (
                src.join(sdf, src["__srcid"] == sdf[id_])
                .select(
                    F.col("__dst").cast(id_dt).alias(id_), F.col(col)
                )
            )
            if hasattr(x, "inner_shape"):
                from dask_spark.ndarray import NDArray

                return NDArray(out_sdf, m.inner_shape, col, id_)
            return DArray(out_sdf, col, id_)
        nb = (npartitions
              or self._spark.sparkContext.defaultParallelism or 2)
        rng = self._range(x, npartitions)
        keyed = rng.select(
            F.col("id"),
            _counter_uniform(F.col("id"), 0, 0, self._seed).alias("__key"),
        ).withColumn(
            "__pid", F.floor(F.col("__key") * F.lit(nb)).cast("int")
        )
        counts = {
            r["__pid"]: r["cnt"]
            for r in keyed.groupBy("__pid")
            .agg(F.count(F.lit(1)).alias("cnt")).collect()
        }
        offsets, acc = [], 0
        for pid in sorted(counts):
            offsets.append((pid, acc))
            acc += counts[pid]
        off_df = self._spark.createDataFrame(
            offsets or [(0, 0)], "__pid int, __off long"
        )
        # id tiebreak: counter keys can collide (~n²/2³¹); without it
        # the position of colliding elements would be engine-dependent
        w = Window.partitionBy("__pid").orderBy("__key", "id")
        sdf = (
            keyed.join(F.broadcast(off_df), "__pid")
            .withColumn("row_id",
                        F.row_number().over(w) - 1 + F.col("__off"))
            .select("row_id",
                    F.array(F.col("id").cast("double")).alias("values"))
        )
        return DArray(sdf, "values", "row_id")

    # ---- Arrow-kernel rejection draws ---------------------------------
    # Stream budget: one standard-gamma sub-draw consumes streams
    # [base, base + _GAMMA_SLOT); compositions (beta, t, f, mixtures)
    # hand each sub-draw its own slot so attempts never collide.
    _GAMMA_SLOT = 4 * _MAX_REJECT + 4

    def standard_gamma(self, shape: float, n: int = 1, dim: int = 1,
                       npartitions: int | None = None) -> DArray:
        """Marsaglia–Tsang rejection in the counter-kernel (reference:
        dask/array/random.py:348 — per-chunk numpy bitgen; here the
        draw is partitioning-invariant)."""
        if shape <= 0:
            raise ValueError("shape must be positive")
        seed = self._seed
        return self._draw_np(
            n, dim,
            lambda ids, j: _np_gamma(ids, j, float(shape), seed, 0),
            npartitions,
        )

    def gamma(self, shape: float, scale: float = 1.0, n: int = 1,
              dim: int = 1, npartitions: int | None = None) -> DArray:
        """reference: dask/array/random.py:171."""
        if shape <= 0 or scale <= 0:
            raise ValueError("shape and scale must be positive")
        seed, sc = self._seed, float(scale)
        return self._draw_np(
            n, dim,
            lambda ids, j: sc * _np_gamma(ids, j, float(shape), seed, 0),
            npartitions,
        )

    def beta(self, a: float, b: float, n: int = 1, dim: int = 1,
             npartitions: int | None = None) -> DArray:
        """X/(X+Y) over two independent standard gammas (the classic
        construction numpy itself uses; reference random.py:114)."""
        if a <= 0 or b <= 0:
            raise ValueError("a and b must be positive")
        seed, S = self._seed, self._GAMMA_SLOT

        def z(ids, j):
            x = _np_gamma(ids, j, float(a), seed, 0)
            y = _np_gamma(ids, j, float(b), seed, S)
            return x / (x + y)

        return self._draw_np(n, dim, z, npartitions)

    def chisquare(self, df: float, n: int = 1, dim: int = 1,
                  npartitions: int | None = None) -> DArray:
        """2·standard_gamma(df/2) (reference random.py:122)."""
        if df <= 0:
            raise ValueError("df must be positive")
        seed = self._seed
        return self._draw_np(
            n, dim,
            lambda ids, j: 2.0 * _np_gamma(ids, j, df / 2.0, seed, 0),
            npartitions,
        )

    def standard_t(self, df: float, n: int = 1, dim: int = 1,
                   npartitions: int | None = None) -> DArray:
        """N(0,1) / sqrt(chi2(df)/df) (reference random.py:358); the
        normal rides its own stream slot."""
        if df <= 0:
            raise ValueError("df must be positive")
        seed, S = self._seed, self._GAMMA_SLOT

        def z(ids, j):
            g = _np_normal(ids, j, seed, S)
            c2 = 2.0 * _np_gamma(ids, j, df / 2.0, seed, 0)
            return g / np.sqrt(c2 / df)

        return self._draw_np(n, dim, z, npartitions)

    def f(self, dfnum: float, dfden: float, n: int = 1, dim: int = 1,
          npartitions: int | None = None) -> DArray:
        """(chi2(dfnum)/dfnum)/(chi2(dfden)/dfden) (reference
        random.py:167)."""
        if dfnum <= 0 or dfden <= 0:
            raise ValueError("dfnum and dfden must be positive")
        seed, S = self._seed, self._GAMMA_SLOT

        def z(ids, j):
            num = 2.0 * _np_gamma(ids, j, dfnum / 2.0, seed, 0) / dfnum
            den = 2.0 * _np_gamma(ids, j, dfden / 2.0, seed, S) / dfden
            return num / den

        return self._draw_np(n, dim, z, npartitions)

    def noncentral_chisquare(self, df: float, nonc: float, n: int = 1,
                             dim: int = 1,
                             npartitions: int | None = None) -> DArray:
        """df > 1: chi2(df-1) + (Z + sqrt(nonc))² — the standard
        decomposition numpy uses; df <= 1: the Poisson mixture
        chi2(df + 2K), K ~ Poisson(nonc/2) (reference random.py:279).
        The mixture path needs VECTOR gamma shape — the kernel's
        Marsaglia–Tsang takes per-element shapes."""
        if df <= 0 or nonc < 0:
            raise ValueError("df must be positive, nonc non-negative")
        seed, S = self._seed, self._GAMMA_SLOT

        if df > 1.0:
            def z(ids, j):
                c2 = 2.0 * _np_gamma(ids, j, (df - 1.0) / 2.0, seed, 0)
                g = _np_normal(ids, j, seed, S) + math.sqrt(nonc)
                return c2 + g * g
        else:
            def z(ids, j):
                k = _np_poisson(ids, j, nonc / 2.0, seed, S)
                return 2.0 * _np_gamma(ids, j, df / 2.0 + k, seed, 0)

        return self._draw_np(n, dim, z, npartitions)

    def noncentral_f(self, dfnum: float, dfden: float, nonc: float,
                     n: int = 1, dim: int = 1,
                     npartitions: int | None = None) -> DArray:
        """(ncx2(dfnum,nonc)/dfnum)/(chi2(dfden)/dfden) (reference
        random.py:285)."""
        if dfnum <= 0 or dfden <= 0 or nonc < 0:
            raise ValueError("dfs must be positive, nonc non-negative")
        seed, S = self._seed, self._GAMMA_SLOT

        def z(ids, j):
            if dfnum > 1.0:
                c2 = 2.0 * _np_gamma(ids, j, (dfnum - 1.0) / 2.0, seed, 0)
                g = _np_normal(ids, j, seed, 2 * S) + math.sqrt(nonc)
                num = (c2 + g * g) / dfnum
            else:
                k = _np_poisson(ids, j, nonc / 2.0, seed, 2 * S)
                num = 2.0 * _np_gamma(ids, j, dfnum / 2.0 + k, seed, 0) \
                    / dfnum
            den = 2.0 * _np_gamma(ids, j, dfden / 2.0, seed, S) / dfden
            return num / den

        return self._draw_np(n, dim, z, npartitions)

    def negative_binomial(self, nsucc: float, p: float, n: int = 1,
                          dim: int = 1,
                          npartitions: int | None = None) -> DArray:
        """Gamma–Poisson mixture: K ~ Poisson(Gamma(nsucc,(1-p)/p)) —
        numpy's own construction (reference random.py:273)."""
        if not 0.0 < p <= 1.0:
            raise ValueError("p must be in (0, 1]")
        if nsucc <= 0:
            raise ValueError("nsucc must be positive")
        seed, S = self._seed, self._GAMMA_SLOT

        def z(ids, j):
            lam = _np_gamma(ids, j, float(nsucc), seed, 0) \
                * ((1.0 - p) / p)
            return _np_poisson(ids, j, lam, seed, S)

        return self._draw_np(n, dim, z, npartitions)

    def vonmises(self, mu: float, kappa: float, n: int = 1, dim: int = 1,
                 npartitions: int | None = None) -> DArray:
        """Best–Fisher envelope rejection (reference random.py:374);
        wrapped to [-pi, pi] like numpy."""
        if kappa < 0:
            raise ValueError("kappa must be non-negative")
        seed = self._seed
        return self._draw_np(
            n, dim,
            lambda ids, j: _np_vonmises(
                ids, j, float(mu), float(kappa), seed, 0
            ),
            npartitions,
        )

    def zipf(self, a: float, n: int = 1, dim: int = 1,
             npartitions: int | None = None) -> DArray:
        """Devroye Pareto-envelope rejection (reference random.py:388)."""
        if a <= 1.0:
            raise ValueError("zipf requires a > 1")
        seed = self._seed
        return self._draw_np(
            n, dim,
            lambda ids, j: _np_zipf(ids, j, float(a), seed, 0),
            npartitions,
        )

    def multinomial(self, trials: int, pvals, n: int = 1,
                    npartitions: int | None = None) -> DArray:
        """One (len(pvals),)-count vector per row: trial t of row i
        draws stream k=t and lands in the inverse-CDF category — the
        same searchsorted semantics as weighted choice, accumulated in
        the kernel with a bincount (reference random.py:245). O(trials)
        streams per row, so ``trials`` is bounded like binomial's CDF."""
        trials = int(trials)
        pv = [float(x) for x in pvals]
        if trials > 10_000:
            raise ValueError(
                "multinomial with trials > 10000: draw per-category "
                "binomial normal approximations instead"
            )
        if abs(sum(pv) - 1.0) > 1e-9:
            raise ValueError("pvals must sum to 1")
        ncat = len(pv)
        cdf = np.cumsum(pv[:-1])
        seed = self._seed
        import pandas as pd

        rng = self._range(n, npartitions)

        def kernel(batches):
            for pdf in batches:
                if not len(pdf):
                    continue
                ids = pdf["id"].to_numpy(dtype="int64")
                counts = np.zeros((len(ids), ncat), dtype=np.float64)
                rows = np.arange(len(ids))
                for t in range(trials):
                    u = _np_uniform(ids, 0, t, seed)
                    # #{cdf < u}: strict, matching _searchsorted
                    cat = np.searchsorted(cdf, u, side="left")
                    counts[rows, cat] += 1.0
                yield pd.DataFrame(
                    {"row_id": ids, "values": list(counts)}
                )

        sdf = rng.mapInPandas(kernel, "row_id long, values array<double>")
        return DArray(sdf, "values", "row_id")

    # ---- driver-CDF closed forms for the remaining tail ---------------
    def wald(self, mean: float, scale: float, n: int = 1, dim: int = 1,
             npartitions: int | None = None) -> DArray:
        """Michael–Schucany–Haas (1976) inverse-Gaussian transform —
        exactly 3 uniforms, NO rejection, so it stays in the fully
        SQL-replayable Column-expression family (reference
        random.py:380)."""
        mu, lam = float(mean), float(scale)
        if mu <= 0 or lam <= 0:
            raise ValueError("mean and scale must be positive")

        def x_of(nu):
            return (
                F.lit(mu)
                + F.lit(mu * mu / (2.0 * lam)) * nu
                - F.lit(mu / (2.0 * lam)) * F.sqrt(
                    F.lit(4.0 * mu * lam) * nu
                    + F.lit(mu * mu) * nu * nu
                )
            )

        # Multi-use intermediates (g twice in nu, nu 4x in x, x 3x in
        # the branch) are staged as lambda variables so each mix is
        # emitted ONCE — inlined, the column re-expands the 20-node
        # counter mix ~50x and trips Janino's 64 KB method limit (and
        # named-column staging doesn't help: stacked Projects fuse
        # into one variable-mode codegen method that cannot split).
        def z(i, j):
            u3 = self._u(i, j, 2)
            g = (
                F.sqrt(F.lit(-2.0) * F.log(self._u(i, j, 0)))
                * F.cos(F.lit(_TWO_PI) * self._u(i, j, 1))
            )
            return self._staged(g, lambda gv: self._staged(
                gv * gv, lambda nu: self._staged(
                    x_of(nu), lambda x: F.when(
                        u3 <= F.lit(mu) / (F.lit(mu) + x), x
                    ).otherwise(F.lit(mu * mu) / x)
                )
            ))

        return self._draw(n, dim, z, npartitions)

    @staticmethod
    def logseries_cdf(p: float) -> list[float]:
        """Driver-side CDF thresholds for Logarithmic(p): draw =
        1 + #{thresholds < u}. pmf(k) = -p^k / (k·ln(1-p)) — the tail
        decays geometrically, truncated below 1e-12 mass."""
        if not 0.0 < p < 1.0:
            raise ValueError("p must be in (0, 1)")
        if p > 0.99:
            raise ValueError(
                "logseries with p > 0.99: the CDF literal has O(1/(1-p)) "
                "terms — sample via the kernel gamma/poisson composition"
            )
        denom = -math.log1p(-p)
        pmf = p / denom
        cdf, acc, k = [], pmf, 1
        while acc < 1.0 - 1e-12 and k < 10_000:
            cdf.append(acc)
            k += 1
            pmf *= p * (k - 1) / k
            acc += pmf
        return cdf

    def logseries(self, p: float, n: int = 1, dim: int = 1,
                  npartitions: int | None = None) -> DArray:
        """reference random.py:241 — scalar p makes the CDF a driver
        literal; the draw is the searchsorted comparison chain, with
        the uniform STAGED as a lambda variable: the chain compares it
        O(support) times, and re-inlining the 20-node mix per
        comparison trips Janino's 64 KB method limit (poisson's ~30
        terms fit inlined; logseries' geometric tail runs longer)."""
        cdf = self.logseries_cdf(float(p))
        return self._draw(
            n, dim,
            lambda i, j: self._staged(
                self._u(i, j),
                lambda u: self._searchsorted(u, cdf) + F.lit(1.0),
            ),
            npartitions,
        )

    @staticmethod
    def hypergeometric_cdf(ngood: int, nbad: int, nsample: int
                           ) -> tuple[int, list[float]]:
        """(support_lo, thresholds) for Hypergeometric: draw =
        lo + #{thresholds < u}. Log-space pmf recurrence — stable for
        any parameters with support width <= 2000."""
        if nsample > ngood + nbad:
            raise ValueError("nsample exceeds population")
        lo = max(0, nsample - nbad)
        hi = min(ngood, nsample)
        if hi - lo > 2000:
            raise ValueError(
                "hypergeometric with support > 2000: use the "
                "binomial/normal approximation"
            )

        def logc(m, k):
            return (math.lgamma(m + 1) - math.lgamma(k + 1)
                    - math.lgamma(m - k + 1))

        logpmf = (logc(ngood, lo) + logc(nbad, nsample - lo)
                  - logc(ngood + nbad, nsample))
        acc = math.exp(logpmf)
        thresholds = []
        for k in range(lo, hi):
            thresholds.append(acc)
            logpmf += (
                math.log(ngood - k) + math.log(nsample - k)
                - math.log(k + 1) - math.log(nbad - nsample + k + 1)
            )
            acc = min(1.0, acc + math.exp(logpmf))
        return lo, thresholds

    def hypergeometric(self, ngood: int, nbad: int, nsample: int,
                       n: int = 1, dim: int = 1,
                       npartitions: int | None = None) -> DArray:
        """reference random.py:187 — scalar params make the CDF a
        driver literal, like poisson/binomial."""
        lo, cdf = self.hypergeometric_cdf(
            int(ngood), int(nbad), int(nsample)
        )
        return self._draw(
            n, dim,
            lambda i, j: self._searchsorted(self._u(i, j), cdf)
            + F.lit(float(lo)),
            npartitions,
        )


def default_rng(spark, seed: int = 0) -> RandomState:
    """dask.array.random.default_rng twin."""
    return RandomState(spark, seed)
