"""Rolling / resample / shift (reference: dask/dataframe/rolling.py
map_overlap machinery, dask/dataframe/tseries/resample.py).

dask implements rolling with map_overlap (ship `window` tail rows to the
next partition). Spark window frames (rowsBetween / rangeBetween) express
the same semantics declaratively with a single sort-shuffle and no
overlap bookkeeping. resample lowers to date_trunc + groupBy (partial
agg, one shuffle)."""

from __future__ import annotations

from typing import Sequence

import pyspark.sql.functions as F
from pyspark.sql import Column, Window

_ROLL_AGGS = {
    "sum": F.sum,
    "mean": F.avg,
    "min": F.min,
    "max": F.max,
    "count": F.count,
    "std": F.stddev_samp,
    "var": F.var_samp,
}

_FREQ_SECONDS = {"s": 1, "min": 60, "t": 60, "h": 3600, "d": 86400, "w": 604800}


def _freq_parse(rule: str) -> tuple[int, str]:
    import re

    m = re.fullmatch(r"(\d*)\s*([a-zA-Z]+)", rule.strip())
    if not m:
        raise ValueError(f"bad frequency {rule!r}")
    n = int(m.group(1) or 1)
    unit = m.group(2).lower()
    return n * _FREQ_SECONDS[unit], unit


def _freq_to_seconds(rule: str) -> int:
    return _freq_parse(rule)[0]


def _freq_unit(rule: str) -> str:
    return _freq_parse(rule)[1]


class Rolling:
    """``frame.rolling(5, on="ts", by="user_id").mean("value")``.
    int window → rowsBetween(-(n-1), 0); str window ("7d") →
    rangeBetween on epoch seconds."""

    def __init__(self, frame, window, on, by=None,
                 min_periods: int | None = None, center: bool = False):
        self._frame = frame
        self._window = window
        if center and not isinstance(window, int):
            # pandas restriction: center is a row-window concept;
            # datetimelike windows reject it there too
            raise ValueError("center=True requires an integer window")
        self._center = bool(center)
        # ``on`` may be a list [order_col, tiebreak...] for row windows
        # (deterministic order under duplicate keys — pandas sorts a
        # real index; an explicit tiebreak is this engine's analog)
        self._ons = [on] if isinstance(on, str) else list(on)
        self._on = self._ons[0]
        if len(self._ons) > 1 and not isinstance(window, int):
            raise ValueError("range windows order by ONE column")
        self._by = [] if by is None else ([by] if isinstance(by, str) else list(by))
        self._min_periods = min_periods

    def _win(self, sdf=None):
        """(window spec, tagged sdf). Keyed: partition by the keys.
        Keyless: NEVER ``Window.partitionBy()`` of nothing (a
        single-partition plan) — range-bucket by ``on`` with a
        backward halo (operators/sort.ranged_with_halo) and partition
        the window by bucket id; callers filter ``__core``."""
        from dask_spark.operators.sort import ranged_with_halo

        sdf = self._frame._sdf if sdf is None else sdf
        if isinstance(self._window, int):
            # pandas frame bounds: trailing [-(w-1), 0]; center=True
            # labels the middle, [-(w//2), (w-1)//2] (even windows
            # take the extra row on the lookback side)
            if self._center:
                lb, ub = self._window // 2, (self._window - 1) // 2
            else:
                lb, ub = self._window - 1, 0
        if self._by:
            part, tagged = self._by, sdf
        elif isinstance(self._window, int):
            # ship the FULL order-column list: the halo tail must be
            # selected under the same (on, tiebreak...) order the
            # window frame uses, or boundary rows see the wrong k
            # predecessors under duplicate keys; centered frames also
            # need a forward halo for their lookahead rows
            tagged = ranged_with_halo(sdf, self._ons,
                                      before_rows=lb, after_rows=ub)
            part = ["__pid"]
        else:
            tagged = ranged_with_halo(
                sdf, self._on, before_range=_freq_to_seconds(self._window)
            )
            part = ["__pid"]
        if isinstance(self._window, int):
            w = Window.partitionBy(*part).orderBy(
                *[F.col(c) for c in self._ons]
            )
            return w.rowsBetween(-lb, ub), tagged
        secs = _freq_to_seconds(self._window)
        w = Window.partitionBy(*part).orderBy(
            F.col(self._on).cast("timestamp").cast("long")
        )
        return w.rangeBetween(-(secs - 1), 0), tagged

    @staticmethod
    def _untag(sdf) -> "DataFrame":
        if "__core" in sdf.columns:
            sdf = sdf.filter("__core").drop("__pid", "__core")
        return sdf

    def _out(self, sdf, written=None) -> "DaskFrame":
        """Row-preserving output: derive from the input frame so tz
        tags / the index marker survive (r15 fuzz find, seeds
        424549/424611 — a bare DaskFrame() here dropped awareness and
        downstream dt fields read the wrong wall clock). ``written``
        maps each output column to its source column (r16 advice
        fixes): overwriting an aware column clears the stale tag, and
        a timestamp-typed output of a tagged source (rolling min/max/
        first-style aggs) inherits the source's zone."""
        return self._frame._derive(self._untag(sdf), written)

    def agg(self, spec: dict[str, str]) -> "DaskFrame":
        w, sdf = self._win()
        written = {}
        for col, fn in spec.items():
            expr = _ROLL_AGGS[fn](col).over(w)
            if self._min_periods:
                cnt = F.count(col).over(w)
                expr = F.when(cnt >= self._min_periods, expr)
            sdf = sdf.withColumn(f"{col}_roll_{fn}", expr)
            written[f"{col}_roll_{fn}"] = col
        return self._out(sdf, written)

    def sum(self, col: str):
        return self.agg({col: "sum"})

    def mean(self, col: str):
        return self.agg({col: "mean"})

    def min(self, col: str):
        return self.agg({col: "min"})

    def max(self, col: str):
        return self.agg({col: "max"})

    def count(self, col: str):
        return self.agg({col: "count"})

    def std(self, col: str):
        return self.agg({col: "std"})

    # -- order-statistic / higher-moment / two-column rolling aggs -----
    # (reference: dask/dataframe/dask_expr/_rolling.py RollingQuantile /
    # RollingSkew / RollingKurt / RollingCov — dask runs the pandas
    # rolling agg per partition under map_overlap; here each is the
    # matching Spark aggregate evaluated over the same window frame,
    # bias-corrected where Spark's population moments differ from the
    # pandas/dask sample definitions.)

    def quantile(self, col: str, q: float, out: str | None = None):
        """Exact linear-interpolation quantile per window frame
        (matches pandas rolling.quantile(interpolation='linear') and
        DuckDB quantile_cont)."""
        w, sdf = self._win()
        expr = F.percentile(F.col(col), F.lit(float(q))).over(w)
        if self._min_periods:
            expr = F.when(F.count(col).over(w) >= self._min_periods, expr)
        return self._out(sdf.withColumn(out or f"{col}_roll_quantile", expr),
                         {out or f"{col}_roll_quantile": col})

    def median(self, col: str, out: str | None = None):
        return self.quantile(col, 0.5, out=out or f"{col}_roll_median")

    def skew(self, col: str, out: str | None = None):
        """Bias-corrected sample skewness G1 (the pandas/dask
        definition). Spark's skewness window aggregate returns the
        population moment g1 = m3/m2^1.5; the correction
        G1 = g1 * sqrt(n(n-1))/(n-2) needs only the frame count."""
        w, sdf = self._win()
        n = F.count(col).over(w).cast("double")
        g1 = F.skewness(F.col(col)).over(w)
        need = max(3, self._min_periods or 0)
        expr = F.when(n >= need, g1 * F.sqrt(n * (n - 1)) / (n - 2))
        return self._out(sdf.withColumn(out or f"{col}_roll_skew", expr),
                         {out or f"{col}_roll_skew": col})

    def kurt(self, col: str, out: str | None = None):
        """Bias-corrected sample excess kurtosis G2 (pandas/dask).
        Spark's kurtosis returns population excess g2 = m4/m2^2 - 3;
        G2 = (n-1)/((n-2)(n-3)) * ((n+1) g2 + 6)."""
        w, sdf = self._win()
        n = F.count(col).over(w).cast("double")
        g2 = F.kurtosis(F.col(col)).over(w)
        need = max(4, self._min_periods or 0)
        expr = F.when(
            n >= need, (n - 1) / ((n - 2) * (n - 3)) * ((n + 1) * g2 + 6)
        )
        return self._out(sdf.withColumn(out or f"{col}_roll_kurt", expr),
                         {out or f"{col}_roll_kurt": col})

    def cov(self, col: str, other: str, out: str | None = None):
        """Rolling sample covariance of two columns (pandas
        rolling.cov / DuckDB covar_samp)."""
        w, sdf = self._win()
        expr = F.covar_samp(F.col(col), F.col(other)).over(w)
        if self._min_periods:
            cnt = F.count(F.when(F.col(col).isNotNull()
                                 & F.col(other).isNotNull(), 1)).over(w)
            expr = F.when(cnt >= self._min_periods, expr)
        return self._out(sdf.withColumn(out or f"{col}_roll_cov", expr),
                         {out or f"{col}_roll_cov": col})

    def corr(self, col: str, other: str, out: str | None = None):
        """Rolling Pearson correlation of two columns.

        Formulated as covar/(sx·sy) with a nullif denominator rather
        than native corr: window aggregates evaluate for EVERY frame
        before any when() guard can skip them, and Spark's corr raises
        ANSI DIVIDE_BY_ZERO on a zero-variance window (e.g. identical
        timestamps inside one range frame — hit at sf0.1). A null
        denominator yields NULL, matching pandas NaN and SQL corr."""
        w, sdf = self._win()
        cov = F.covar_samp(F.col(col), F.col(other)).over(w)
        sx = F.stddev_samp(F.col(col)).over(w)
        sy = F.stddev_samp(F.col(other)).over(w)
        expr = cov / F.nullif(sx * sy, F.lit(0.0))
        if self._min_periods:
            cnt = F.count(F.when(F.col(col).isNotNull()
                                 & F.col(other).isNotNull(), 1)).over(w)
            expr = F.when(cnt >= self._min_periods, expr)
        return self._out(sdf.withColumn(out or f"{col}_roll_corr", expr),
                         {out or f"{col}_roll_corr": col})

    def apply(self, col: str, fn, dtype: str = "double", out: str | None = None):
        """Arbitrary python fn per window (dask rolling.apply):
        collect_list over the window frame → Arrow-batched pandas UDF
        mapping each window array through ``fn``. Per-row state is
        O(window size)."""
        import numpy as np
        import pandas as pd
        from pyspark.sql.functions import pandas_udf

        w, sdf = self._win()
        arrs = F.collect_list(F.col(col)).over(w)

        def _apply(s):
            return s.map(lambda a: fn(np.asarray(a)))

        # annotations set as objects: string hints can't resolve the
        # locally-imported pandas module
        _apply.__annotations__ = {"s": pd.Series, "return": pd.Series}
        _apply = pandas_udf(dtype)(_apply)

        expr = _apply(arrs)
        if self._min_periods:
            expr = F.when(
                F.count(col).over(w) >= self._min_periods, expr
            )
        return self._out(sdf.withColumn(out or f"{col}_roll_apply", expr),
                         {out or f"{col}_roll_apply": col})


class Resampler:
    """``frame.resample("1h", on="ts").agg({"value": "mean"})`` →
    date_trunc-style bucketing + groupBy. Bucket label is emitted as
    column ``<on>_bucket`` (timestamp).

    Known parity gap (r15 advice, documented rather than changed —
    every declared-query contract bins this way): a TZ-AWARE ``on``
    column bins on its UTC instant (epoch-modulus arithmetic), while
    pandas resamples tz-aware data on LOCAL wall clock — visible for
    d/w/M rules in non-UTC zones (a Tokyo Monday-morning event lands
    in the UTC Sunday bucket). Convert to local naive time first
    (``.dt.tz_convert(zone)`` then drop the tag) when pandas'
    local-day semantics are required; the emitted ``<on>_bucket`` is
    untagged UTC either way.

    ``closed``/``label`` follow pandas (reference:
    dask/dataframe/tseries/resample.py:66 threads both straight to
    pandas resample): ``closed`` picks which bin edge is inclusive,
    ``label`` which edge names the bucket. Defaults are pandas':
    left/left for sub-weekly rules, right/right for "W" (whose bins
    also anchor to SUNDAY midnight — epoch + 3 days — not the epoch,
    so weekly buckets land on pandas' W-SUN edges). All still ONE
    map-side bucket expression + one groupBy: the closed/label shift
    is driver-side arithmetic on the same epoch modulus."""

    # epoch (Thu Jan 1 1970) → first Sunday 00:00 is Jan 4: anchor
    # weekly bins to pandas' W-SUN edges
    _W_ANCHOR = 259_200

    def __init__(self, frame, rule: str, on: str,
                 closed: str | None = None, label: str | None = None,
                 fill: bool = False):
        import re

        self._frame = frame
        self._rule = rule
        self._on = on
        self._fill = bool(fill)
        # calendar month-end ("ME"/"M", case-sensitive — "min" is
        # minutes): bins are calendar months whose right-closed form
        # includes the FULL month-end day (pandas _adjust_bin_edges),
        # labels are month-end dates. Not a fixed-seconds rule, so it
        # bypasses the epoch-modulus path entirely.
        me = re.fullmatch(r"(\d*)\s*(ME|M)", rule.strip())
        if me:
            if int(me.group(1) or 1) != 1:
                raise NotImplementedError(
                    "multi-month resample rules are not supported; "
                    "resample per month then aggregate the buckets"
                )
            unit = "me"
        else:
            unit = _freq_unit(rule)
        default = "right" if unit in ("w", "me") else "left"
        self._unit = unit
        self._closed = closed or default
        self._label = label or default
        if self._closed not in ("left", "right"):
            raise ValueError("closed must be 'left' or 'right'")
        if self._label not in ("left", "right"):
            raise ValueError("label must be 'left' or 'right'")
        self._anchor = self._W_ANCHOR if unit == "w" else 0

    def _bucket(self) -> Column:
        if self._unit == "me":
            # closed='right' (the ME default): month membership — the
            # whole month-end day belongs to its month. closed='left':
            # edges sit at month-end MIDNIGHT, so shifting the
            # timestamp forward one day reproduces the bin choice.
            ts = F.col(self._on).cast("timestamp")
            if self._closed == "left":
                ts = ts + F.expr("INTERVAL 1 DAY")
            mstart = F.date_trunc("month", ts)
            if self._label == "right":
                return F.last_day(mstart).cast("timestamp")
            return F.last_day(F.add_months(mstart, -1)).cast("timestamp")
        secs = _freq_to_seconds(self._rule)
        off = self._anchor % secs
        closed, shift = self._closed, 0
        if self._unit == "w" and closed == "right":
            # pandas _adjust_bin_edges: W (and M/Q/Y) right-closed bins
            # include the FULL label day — the Sunday-labeled bin ends
            # at the END of Sunday, not at Sunday midnight. Equivalent
            # arithmetic: left-closed bins anchored MONDAY with labels
            # a day earlier. (Sub-daily rules keep pure edge
            # semantics: pandas only adjusts day-calendar freqs.)
            off = (off + 86_400) % secs
            closed = "left"
            shift = -86_400
        e = F.col(self._on).cast("timestamp").cast("long") - F.lit(off)
        rem = F.pmod(e, F.lit(secs))
        left = e - rem
        if closed == "right":
            # an edge timestamp belongs to the bin it ENDS
            left = F.when(rem == 0, e - F.lit(secs)).otherwise(left)
        if self._label == "right":
            left = left + F.lit(secs)
        return F.timestamp_seconds(left + F.lit(off + shift))

    def _densify(self, sdf, zeros: dict[str, object]):
        """pandas emits EVERY bucket between min and max, empty ones
        included (upsampling gaps). Sparse groupBy output is the
        engine default (fill=False) — when asked for pandas parity the
        dense grid is generated IN-PLAN from the one-row min/max agg
        (sequence + explode, never a driver loop) and left-joined
        back; count-like columns coalesce to their 0 identity, the
        rest stay NULL/NaN like pandas."""
        b = f"{self._on}_bucket"
        bounds = sdf.agg(F.min(b).alias("__lo"), F.max(b).alias("__hi"))
        if self._unit == "me":
            # labels are month-END days: step over month starts (an
            # add-months walk from a month end would clamp days) and
            # regenerate the end labels
            grid = bounds.select(F.explode(F.sequence(
                F.date_trunc("month", F.col("__lo")),
                F.date_trunc("month", F.col("__hi")),
                F.expr("INTERVAL 1 MONTH"))).alias("__g")
            ).select(F.last_day(F.col("__g")).cast("timestamp").alias(b))
        else:
            secs = _freq_to_seconds(self._rule)
            grid = bounds.select(F.explode(F.sequence(
                F.col("__lo"), F.col("__hi"),
                F.expr(f"INTERVAL {secs} SECOND"))).alias(b))
        out = grid.join(sdf, on=b, how="left")
        for c, z in zeros.items():
            out = out.withColumn(
                c, F.coalesce(F.col(c), F.lit(z).cast(sdf.schema[c].dataType))
            )
        return out

    def agg(self, spec: dict[str, object]) -> "DaskFrame":
        from dask_spark.frame import DaskFrame
        from dask_spark.operators.groupby import _AGGS

        exprs, zeros = [], {}
        for col, fns in spec.items():
            for fn in [fns] if isinstance(fns, str) else fns:
                exprs.append(_AGGS[fn](col).alias(f"{col}_{fn}"))
                if fn in ("count", "size", "nunique", "sum"):
                    zeros[f"{col}_{fn}"] = 0
        out = (
            self._frame._sdf.groupBy(self._bucket().alias(f"{self._on}_bucket"))
            .agg(*exprs)
        )
        if self._fill:
            out = self._densify(out, zeros)
        return DaskFrame(out)

    def mean(self, col: str):
        return self.agg({col: "mean"})

    def sum(self, col: str):
        return self.agg({col: "sum"})

    def count(self, col: str):
        return self.agg({col: "count"})

    def min(self, col: str):
        return self.agg({col: "min"})

    def max(self, col: str):
        return self.agg({col: "max"})

    def nunique(self, col: str):
        return self.agg({col: "nunique"})

    def size(self) -> "DaskFrame":
        """Rows per bucket (reference: tseries/resample.py size)."""
        from dask_spark.frame import DaskFrame

        out = self._frame._sdf.groupBy(
            self._bucket().alias(f"{self._on}_bucket")
        ).agg(F.count(F.lit(1)).alias("size"))
        if self._fill:
            out = self._densify(out, {"size": 0})
        return DaskFrame(out)

    def sem(self, col: str) -> "DaskFrame":
        """Standard error of the mean per bucket (resample.py sem)."""
        from dask_spark.frame import DaskFrame

        return DaskFrame(
            self._frame._sdf.groupBy(
                self._bucket().alias(f"{self._on}_bucket")
            ).agg(
                (F.stddev_samp(col) / F.sqrt(F.count(col)))
                .alias(f"{col}_sem")
            )
        )

    def ohlc(self, col: str) -> "DaskFrame":
        """Open/high/low/close per bucket (resample.py ohlc):
        open/close via min_by/max_by on the time column — pure
        aggregates, exact ordered semantics with no window."""
        from dask_spark.frame import DaskFrame

        out = self._frame._sdf.groupBy(
            self._bucket().alias(f"{self._on}_bucket")
        ).agg(
            F.min_by(col, self._on).alias("open"),
            F.max(col).alias("high"),
            F.min(col).alias("low"),
            F.max_by(col, self._on).alias("close"),
        )
        if self._fill:
            out = self._densify(out, {})
        return DaskFrame(out)


def _by_list(by) -> list[str]:
    return [] if by is None else ([by] if isinstance(by, str) else list(by))


def _lag_keyless(frame, order_by: str, name: str, periods: int, build_expr,
                 src: str | None = None):
    """Keyless lag/lead-style window: range-bucket + halo-ship
    |periods| boundary rows (dask's map_overlap shape) instead of a
    single-partition ``Window.partitionBy()``. ``build_expr(w)`` gets
    the per-bucket window spec."""
    from dask_spark.operators.sort import ranged_with_halo

    tagged = ranged_with_halo(
        frame._sdf, order_by,
        before_rows=periods if periods > 0 else 0,
        after_rows=-periods if periods < 0 else 0,
    )
    w = Window.partitionBy("__pid").orderBy(F.col(order_by))
    return frame._derive(
        tagged.withColumn(name, build_expr(w))
        .filter("__core")
        .drop("__pid", "__core"),
        {name: src},
    )


def shift(frame, col: str, periods: int = 1, order_by: str | None = None,
          by: Sequence[str] | None = None, out: str | None = None):
    """reference: dask shift via map_overlap → lag/lead window. Keyless
    routes through range-bucket + halo — never a single-partition
    window."""
    by = _by_list(by)
    name = out or f"{col}_shift"
    fn = F.lag(col, periods) if periods >= 0 else F.lead(col, -periods)
    if not by:
        return _lag_keyless(frame, order_by or col, name, periods,
                            lambda w: fn.over(w), src=col)
    w = Window.partitionBy(*by).orderBy(order_by or col)
    return frame._derive(frame._sdf.withColumn(name, fn.over(w)),
                         {name: col})


def diff(frame, col: str, periods: int = 1, order_by: str | None = None,
         by: Sequence[str] | None = None, out: str | None = None):
    by = _by_list(by)
    name = out or f"{col}_diff"
    if not by:
        return _lag_keyless(
            frame, order_by or col, name, periods,
            lambda w: F.col(col) - F.lag(col, periods).over(w), src=col,
        )
    w = Window.partitionBy(*by).orderBy(order_by or col)
    return frame._derive(
        frame._sdf.withColumn(name, F.col(col) - F.lag(col, periods).over(w)),
        {name: col},
    )


_CUM_FNS = {"sum": F.sum, "max": F.max, "min": F.min, "count": F.count,
            "prod": F.product}


def _cum_missing(sdf, col: str, fn: str):
    """pandas cum* skipna semantics (r15 fuzz find, seed 424273): a
    missing value (NULL, or NaN — boundary or MID-PLAN) yields NaN AT
    its own row while the accumulation carries PAST it unpoisoned.
    Returns (source Column for the aggregate — NaN→NULL for floats so
    Spark's NaN ordering/poisoning never applies, matching the r14
    _skipna_expr contract — and the is-missing predicate to re-mask
    the output row, or None when nothing can be missing-masked)."""
    if fn == "count":  # cumcount counts rows; no value masking
        return F.col(col), None
    t = dict(sdf.dtypes).get(col)
    if t in ("float", "double"):
        return (F.nanvl(F.col(col), F.lit(None).cast(t)),
                F.col(col).isNull() | F.isnan(F.col(col)))
    return F.col(col), F.col(col).isNull()


def cumulative(frame, col: str, fn: str = "sum", order_by: str | None = None,
               by: Sequence[str] | None = None, out: str | None = None):
    """cumsum/cummax/cummin/cumcount (reference: dask_expr cumulative
    ops) as running window aggregates. Keyless goes through the
    classic two-pass distributed scan (per-bucket running agg +
    driver-combined per-bucket offsets) — dask's cumulative ACA shape —
    instead of a single-partition window."""
    by = _by_list(by)
    name = out or f"{col}_cum{fn}"
    if not by:
        return _cumulative_keyless(frame, col, fn, order_by or col, name)
    w = (
        Window.partitionBy(*by)
        .orderBy(order_by or col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # prod: F.product is a real aggregate (sign/zero-exact) — the
    # exp∘cumsum∘log trick silently dropped zeros/negatives (log→NULL)
    src, missing = _cum_missing(frame._sdf, col, fn)
    expr = _CUM_FNS[fn](src).over(w)
    if missing is not None:
        expr = F.when(~missing, expr)
    return frame._derive(frame._sdf.withColumn(name, expr), {name: col})


def _cumulative_keyless(frame, col: str, fn: str, order_by: str, name: str):
    """Distributed prefix scan: range-bucket by the order column, run
    the running aggregate per bucket (parallel window), combine with
    each bucket's exclusive-prefix offset (per-bucket totals are the
    ONLY driver data — #buckets scalars, like dask's divisions).
    Decomposable fns only, matching the keyed path's fn set."""
    from pyspark.sql.types import IntegerType, LongType, StructField, StructType

    from dask_spark.operators.sort import range_bucket

    sdf = frame._sdf
    spark = sdf.sparkSession
    ranged, _nb = range_bucket(sdf, order_by)
    agg = _CUM_FNS[fn]
    src, missing = _cum_missing(sdf, col, fn)
    totals = {
        r["__pid"]: r["t"]
        for r in ranged.groupBy("__pid").agg(agg(src).alias("t")).collect()
    }
    combine = {
        "sum": lambda a, b: a + b, "count": lambda a, b: a + b,
        "prod": lambda a, b: a * b, "max": max, "min": min,
    }[fn]
    offsets, acc = [], None
    for pid in sorted(totals):
        offsets.append((pid, acc))
        t = totals[pid]
        if t is not None:
            acc = t if acc is None else combine(acc, t)
    off_type = (
        LongType() if fn == "count" else ranged.schema[col].dataType
    )
    off_df = spark.createDataFrame(
        offsets or [(0, None)],
        StructType([StructField("__pid", IntegerType()),
                    StructField("__off", off_type)]),
    )
    w = (
        Window.partitionBy("__pid")
        .orderBy(order_by)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    run = agg(src).over(w)
    off = F.col("__off")
    merged = {
        "sum": run + off, "count": run + off, "prod": run * off,
        "max": F.greatest(run, off), "min": F.least(run, off),
    }[fn]
    expr = F.when(off.isNull(), run).otherwise(merged)
    if missing is not None:
        # pandas skipna: the missing row itself reads NaN even though
        # the running aggregate carries past it
        expr = F.when(~missing, expr)
    out = (
        ranged.join(F.broadcast(off_df), "__pid")
        .withColumn(name, expr)
        .drop("__pid", "__off")
    )
    return frame._derive(out, {name: col})


def fill_directional(frame, cols, order_by: str, by=None,
                     direction: str = "ffill"):
    """ffill/bfill along ``order_by`` (reference: dask map_overlap
    ffill). Keyed: window last/first(ignorenulls). Keyless: the
    lookback is unbounded, so halos can't help — instead the classic
    two-pass carry: per-bucket boundary values (one tiny agg →
    #buckets rows on the driver), prefix-scanned into one seed value
    per bucket, coalesced under the per-bucket window fill. Exact even
    when whole buckets are all-null."""
    cols = [cols] if isinstance(cols, str) else list(cols)
    by = [] if by is None else ([by] if isinstance(by, str) else list(by))
    forward = direction == "ffill"
    if by:
        w = Window.partitionBy(*by).orderBy(order_by)
        w = (w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
             if forward else
             w.rowsBetween(Window.currentRow, Window.unboundedFollowing))
        pick = F.last if forward else F.first
        sdf = frame._sdf
        for c in cols:
            sdf = sdf.withColumn(c, pick(F.col(c), ignorenulls=True).over(w))
        return frame._derive(sdf, {c: c for c in cols})
    return _fill_keyless(frame, cols, order_by, forward)


def _fill_keyless(frame, cols, order_by: str, forward: bool):
    from pyspark.sql.types import IntegerType, StructField, StructType

    from dask_spark.operators.sort import range_bucket

    sdf = frame._sdf
    spark = sdf.sparkSession
    ranged, _nb = range_bucket(sdf, order_by)
    # boundary value per bucket: the non-null value at the max (ffill) /
    # min (bfill) order position — null orderings exclude null rows
    pick_by = F.max_by if forward else F.min_by
    aggs = [
        pick_by(F.col(c), F.when(F.col(c).isNotNull(), F.col(order_by)))
        .alias(c)
        for c in cols
    ]
    bounds = {
        r["__pid"]: r
        for r in ranged.groupBy("__pid").agg(*aggs).collect()
    }
    pids = sorted(bounds) if forward else sorted(bounds, reverse=True)
    carry_rows, carry = [], {c: None for c in cols}
    for pid in pids:
        carry_rows.append((pid, *[carry[c] for c in cols]))
        for c in cols:
            if bounds[pid][c] is not None:
                carry[c] = bounds[pid][c]
    schema = StructType(
        [StructField("__pid", IntegerType())]
        + [StructField(f"__carry_{c}", sdf.schema[c].dataType) for c in cols]
    )
    seeds = spark.createDataFrame(carry_rows, schema)
    w = Window.partitionBy("__pid").orderBy(order_by)
    w = (w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
         if forward else
         w.rowsBetween(Window.currentRow, Window.unboundedFollowing))
    pick = F.last if forward else F.first
    out = ranged.join(F.broadcast(seeds), "__pid", "left")
    for c in cols:
        out = out.withColumn(
            c,
            F.coalesce(pick(F.col(c), ignorenulls=True).over(w),
                       F.col(f"__carry_{c}")),
        )
    return frame._derive(
        out.drop("__pid", *[f"__carry_{c}" for c in cols]),
        {c: c for c in cols},
    )


def map_overlap(frame, fn, schema: str, on: str, before: float = 0,
                after: float = 0, npartitions: int = 32):
    """Generic distributed map_overlap (reference:
    dask/dataframe/rolling.py map_overlap — dask ships `before`/`after`
    boundary rows between neighboring partitions, applies ``fn`` per
    partition, then trims the halo).

    Spark re-expression with NO all-to-one step:
    1. sample range boundaries of ``on`` (percentile_approx — one tiny
       agg job, like dask's divisions sampling),
    2. every row is exploded to its own range bucket plus any neighbor
       bucket whose halo ([start-before, end+after)) covers it —
       bounded fan-out ≤ 2× for sane halos,
    3. ``groupBy(bucket).applyInPandas`` sorts each bucket by ``on``,
       applies ``fn`` to core+halo, and keeps only core output rows.

    ``fn`` must return a frame row-aligned with its input (dask's
    map_overlap contract). ``before``/``after`` are in units of ``on``
    (numbers or epoch-seconds for timestamps). At 100 TB this is one
    range shuffle of ~(1+ε)×N rows — same shape as a global sort."""
    import pandas as pd

    from dask_spark.frame import DaskFrame

    sdf = frame._sdf
    n_b = max(int(npartitions), 1)
    if n_b > 1:
        qs = [i / n_b for i in range(1, n_b)]
        cuts = sdf.agg(
            F.percentile_approx(F.col(on).cast("double"), qs).alias("c")
        ).first()["c"]
        # percentile of an empty frame is null -> single bucket
        cuts = sorted(set(float(c) for c in (cuts or []) if c is not None))
    else:
        cuts = []
    ocol = F.col(on).cast("double")

    # own bucket via the O(log n) binary search (operators/sort
    # with_bucket); a row's only possible halo destinations are its two
    # NEIGHBOR buckets, located through the cuts array in O(1) — per-row
    # cost is O(log #buckets), never a scan of every cut
    from dask_spark.operators.sort import with_bucket

    dt = sdf.schema[on].dataType
    bucketed = with_bucket(sdf, on, cuts, True, dt, "__own")
    own = F.col("__own")
    if cuts:
        arr = F.array(*[F.lit(float(c)) for c in cuts])
        upper = F.try_element_at(arr, own + 1)  # first cut above own bucket
        lower = F.when(own >= 1, F.try_element_at(arr, own))  # cut below
    else:
        upper = F.lit(None).cast("double")
        lower = F.lit(None).cast("double")
    targets = F.array(
        F.struct(own.alias("b"), F.lit(True).alias("core")),
        # halo for the NEXT bucket: rows within `before` of its start
        F.when(
            upper.isNotNull() & (ocol >= upper - F.lit(before)),
            F.struct((own + 1).alias("b"), F.lit(False).alias("core")),
        ),
        # halo for the PREVIOUS bucket: rows within `after` of its end
        F.when(
            lower.isNotNull() & (ocol < lower + F.lit(after)),
            F.struct((own - 1).alias("b"), F.lit(False).alias("core")),
        ),
    )
    exploded = bucketed.withColumn(
        "__t", F.explode(F.filter(targets, lambda t: t.isNotNull()))
    ).withColumn("__bucket", F.col("__t.b")).withColumn(
        "__core", F.col("__t.core")
    ).drop("__t", "__own")

    in_cols = sdf.columns

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(on, kind="mergesort").reset_index(drop=True)
        core = pdf["__core"].to_numpy(dtype=bool)
        out = fn(pdf[in_cols])
        return out.iloc[core]

    out = exploded.groupBy("__bucket").applyInPandas(
        lambda _, pdf: run(pdf), schema=schema
    )
    return DaskFrame(out)
