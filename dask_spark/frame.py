"""DaskFrame / Series: a dask.dataframe-style lazy collection over PySpark.

Mirrors the reference's public collection API
(/root/reference/dask/dataframe/dask_expr/_collection.py: FrameBase,
DataFrame, Series) but every method is a thin declarative mapping onto
pyspark DataFrame/Column ops, so the WHOLE plan lives in Catalyst —
pushdown, pruning, join selection and whole-stage codegen are free.

Divergences from dask (documented, deliberate):
- no explicit row index; ``set_index`` maps to range-partition + sort
  (Spark's native ordering model) rather than a materialized index.
- scalar reductions on Series return lazy one-row frames via the frame
  API, or eager Python scalars via ``Series.compute()``-style helpers.
"""

from __future__ import annotations

from typing import Any, Callable, Iterable, Mapping, Sequence

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame as SparkDF, Window


def _col(x: "Series | Column | Any") -> Column:
    if isinstance(x, Series):
        return x._expr
    if isinstance(x, Column):
        return x
    try:
        import pandas as _pd

        if isinstance(x, _pd.tseries.offsets.BaseOffset):
            # fixed-tick offsets (Hour, Minute…) are exact intervals;
            # calendar offsets (MonthEnd, BDay…) have no fixed length
            # and cannot be a Spark interval literal — refuse clearly
            if isinstance(x, _pd.tseries.offsets.Tick):
                import datetime as _dt

                if x.nanos % 1000:
                    # Spark intervals bottom out at microseconds; a
                    # silent //1000 would turn Nano(500) into a zero
                    # timedelta — refuse clearly instead (r15 ADVICE)
                    raise TypeError(
                        f"{type(x).__name__} offset of {x.nanos}ns has "
                        "sub-microsecond precision; Spark interval "
                        "literals are microsecond-resolution"
                    )
                return F.lit(_dt.timedelta(microseconds=x.nanos // 1000))
            raise TypeError(
                f"{type(x).__name__} is a calendar offset with no fixed "
                "length; use add_months/date_add-style dt ops instead"
            )
    except ImportError:  # pragma: no cover
        pass
    return F.lit(x)


def _probe_dtype(frame, probe: Column) -> "str | None":
    """simpleString dtype of an expression against ``frame``, cheaply:
    bare column references read the frame's already-analyzed schema;
    anything else runs one driver-side analysis whose result is cached
    on the frame keyed by the expression string, so long comparison
    chains don't pay O(chain²) analysis (r15 ADVICE). Only
    AnalysisException is swallowed (→ None: keep the null guard, skip
    the NaN guard); real errors propagate."""
    key = str(probe)
    cache = frame.__dict__.setdefault("_dtype_probe_cache", {})
    if key in cache:
        return cache[key]
    dt = dict(frame._sdf.dtypes)
    if key.startswith("Column<'") and key.endswith("'>") \
            and key[8:-2] in dt:
        t = dt[key[8:-2]]
    else:
        from pyspark.errors import AnalysisException

        try:
            t = frame._sdf.select(probe.alias("__t")) \
                .schema[0].dataType.simpleString()
        except AnalysisException:
            t = None
    cache[key] = t
    return t


def _is_timedelta_like(x: Any) -> bool:
    """True for duration/offset scalars (timestamp - x → timestamp);
    False for datetime scalars (timestamp - x → interval)."""
    import datetime as _dt

    if isinstance(x, _dt.datetime) or isinstance(x, _dt.date):
        return False  # Timestamp subclasses datetime — check first
    if isinstance(x, _dt.timedelta):
        return True
    try:
        import numpy as _np

        if isinstance(x, _np.timedelta64):
            return True
        if isinstance(x, _np.datetime64):
            return False
    except Exception:  # pragma: no cover
        pass
    try:
        import pandas as _pd

        if isinstance(x, _pd.tseries.offsets.BaseOffset):
            return True
    except Exception:  # pragma: no cover
        pass
    return False


class _PartitionIndexer:
    """x.partitions[i] (reference: _collection.py partitions): filter
    by spark_partition_id — a map-side predicate, no shuffle."""

    def __init__(self, frame: "DaskFrame"):
        self._frame = frame

    def __getitem__(self, i: int) -> "DaskFrame":
        return DaskFrame(
            self._frame._sdf.filter(F.spark_partition_id() == int(i))
        )


class StrAccessor:
    """``.str`` — mirrors dask/pandas string accessor (reference:
    dask/dataframe/accessor.py StringAccessor) via JVM string fns."""

    def __init__(self, s: "Series"):
        self._s = s

    def _wrap(self, expr: Column, name: str | None = None) -> "Series":
        return Series(self._s._frame, expr, name or self._s._name)

    def lower(self):
        return self._wrap(F.lower(self._s._expr))

    def upper(self):
        return self._wrap(F.upper(self._s._expr))

    def len(self):
        return self._wrap(F.length(self._s._expr))

    def strip(self):
        return self._wrap(F.trim(self._s._expr))

    def lstrip(self):
        return self._wrap(F.ltrim(self._s._expr))

    def rstrip(self):
        return self._wrap(F.rtrim(self._s._expr))

    def contains(self, pat: str, regex: bool = True):
        e = self._s._expr
        return self._wrap(e.rlike(pat) if regex else e.contains(pat))

    def startswith(self, pat: str):
        return self._wrap(self._s._expr.startswith(pat))

    def endswith(self, pat: str):
        return self._wrap(self._s._expr.endswith(pat))

    def replace(self, pat: str, repl: str, regex: bool = True):
        e = self._s._expr
        out = (
            F.regexp_replace(e, pat, repl)
            if regex
            else F.replace(e, F.lit(pat), F.lit(repl))
        )
        return self._wrap(out)

    def split(self, pat: str = r"\s+", n: int = -1, expand: bool = False):
        """pandas str.split. ``n`` caps the number of splits (Spark's
        split limit = n+1 parts, same contract as pandas; pandas
        treats n in (None, 0, -1) all as "all splits"). ``expand``
        returns a FRAME of n+1 element columns named 0..n (dask also
        requires n= with expand — the output schema must be static)."""
        if not expand:
            limit = -1 if n is None or n <= 0 else int(n) + 1
            return self._wrap(F.split(self._s._expr, pat, limit))
        if n is None or n < 1:
            raise ValueError(
                "split(expand=True) requires n >= 1 (static output "
                "schema; same contract as dask)"
            )
        arr = F.split(self._s._expr, pat, int(n) + 1)
        # try_element_at: rows with fewer parts fill with null (ANSI
        # element_at throws past the end; pandas fills None)
        cols = [
            F.try_element_at(arr, F.lit(i + 1)).alias(str(i))
            for i in range(int(n) + 1)
        ]
        return DaskFrame(self._s._frame._sdf.select(*cols))

    def extract(self, pat: str, group: int = 1):
        return self._wrap(F.regexp_extract(self._s._expr, pat, group))

    def slice(self, start: int = 0, stop: int | None = None):
        length = (stop - start) if stop is not None else (1 << 30)
        return self._wrap(F.substring(self._s._expr, start + 1, length))

    def pad(self, width: int, side: str = "left", fillchar: str = " "):
        fn = F.lpad if side == "left" else F.rpad
        return self._wrap(fn(self._s._expr, width, fillchar))

    def cat(self, other: "Series", sep: str = ""):
        return self._wrap(F.concat_ws(sep, self._s._expr, _col(other)))

    def count(self, pat: str):
        # regexp_count: NULL in → NULL out (pandas NA), vs the earlier
        # split-size form which returned -2 under legacy sizeOfNull
        return self._wrap(F.regexp_count(self._s._expr, F.lit(pat)))

    # ---- long tail (reference: accessor.py delegates every pandas
    # str method; these are the remaining common ones, all JVM fns) ----
    def title(self):
        """Whitespace word-boundaries (JVM initcap). Python's title()
        also capitalizes after digits/punctuation ("a1b" -> "A1B");
        this keeps the Spark-native rule — same result for normal
        prose, documented divergence on intra-word boundaries."""
        return self._wrap(F.initcap(self._s._expr))

    def capitalize(self):
        e = self._s._expr
        return self._wrap(
            F.concat(F.upper(F.substring(e, 1, 1)), F.lower(F.substring(e, 2, 1 << 30)))
        )

    def _no_trunc(self, padded: Column, width: int) -> Column:
        """pandas pads never truncate; JVM lpad/rpad do."""
        e = self._s._expr
        return F.when(F.length(e) >= width, e).otherwise(padded)

    def zfill(self, width: int):
        """Python semantics: zeros go AFTER a leading +/- sign."""
        e = self._s._expr
        sign = F.substring(e, 1, 1)
        signed = sign.isin("+", "-")
        rest = F.substring(e, 2, 1 << 30)
        padded = F.when(
            signed, F.concat(sign, F.lpad(rest, width - 1, "0"))
        ).otherwise(F.lpad(e, width, "0"))
        return self._wrap(self._no_trunc(padded, width))

    def repeat(self, n: int):
        return self._wrap(F.repeat(self._s._expr, n))

    def get(self, i: int):
        """i-th CHARACTER (pandas str.get on strings)."""
        return self._wrap(F.substring(self._s._expr, i + 1, 1))

    def find(self, sub: str):
        """First index of ``sub`` or -1 (locate is 1-based, 0=absent)."""
        return self._wrap(F.locate(sub, self._s._expr) - 1)

    def rfind(self, sub: str):
        e = self._s._expr
        rev = F.locate(sub[::-1], F.reverse(e))
        return self._wrap(
            F.when(rev == 0, F.lit(-1)).otherwise(
                F.length(e) - rev - F.lit(len(sub) - 1)
            )
        )

    def findall(self, pat: str):
        # idx=0: the whole match (pandas findall with no groups)
        return self._wrap(
            F.regexp_extract_all(self._s._expr, F.lit(pat), F.lit(0))
        )

    def match(self, pat: str):
        return self._wrap(self._s._expr.rlike("^(?:" + pat + ")"))

    def fullmatch(self, pat: str):
        return self._wrap(self._s._expr.rlike("^(?:" + pat + ")$"))

    def removeprefix(self, prefix: str):
        e = self._s._expr
        return self._wrap(
            F.when(
                e.startswith(prefix), F.substring(e, len(prefix) + 1, 1 << 30)
            ).otherwise(e)
        )

    def removesuffix(self, suffix: str):
        e = self._s._expr
        return self._wrap(
            F.when(
                e.endswith(suffix),
                F.substring(e, 1, F.length(e) - len(suffix)),
            ).otherwise(e)
        )

    def ljust(self, width: int, fillchar: str = " "):
        return self._wrap(
            self._no_trunc(F.rpad(self._s._expr, width, fillchar), width)
        )

    def rjust(self, width: int, fillchar: str = " "):
        return self._wrap(
            self._no_trunc(F.lpad(self._s._expr, width, fillchar), width)
        )

    def center(self, width: int, fillchar: str = " "):
        # CPython rule: left = marg//2 + (marg & width & 1) — the odd
        # extra char lands LEFT when width is also odd
        e = self._s._expr
        marg = F.lit(width) - F.length(e)
        left = F.floor(marg / 2) + (
            marg.cast("int").bitwiseAND(F.lit(width)).bitwiseAND(F.lit(1))
        )
        padded = F.rpad(
            F.lpad(e, (F.length(e) + F.greatest(left, F.lit(0))).cast("int"), fillchar),
            width,
            fillchar,
        )
        return self._wrap(self._no_trunc(padded, width))

    # char-class predicates: unicode-aware via Java \p classes (pandas
    # semantics: true iff non-empty and every char in the class)
    def isdigit(self):
        return self._wrap(self._s._expr.rlike(r"^\p{Nd}+$"))

    def isalpha(self):
        return self._wrap(self._s._expr.rlike(r"^\p{L}+$"))

    def isalnum(self):
        return self._wrap(self._s._expr.rlike(r"^[\p{L}\p{Nd}]+$"))

    def isspace(self):
        return self._wrap(self._s._expr.rlike(r"^\s+$"))

    def isupper(self):
        e = self._s._expr
        return self._wrap((e == F.upper(e)) & (e != F.lower(e)))

    def islower(self):
        e = self._s._expr
        return self._wrap((e == F.lower(e)) & (e != F.upper(e)))


class DtAccessor:
    """``.dt`` — datetime accessor (reference: accessor.py
    DatetimeAccessor; name surface: dask_expr/_datetime.py:17-74)
    via JVM datetime fns.

    Timezone model (engine NTZ policy, tests/test_ntz.py): naive
    series are UTC wall-clock instants. A tz-aware series is stored
    as the same UTC instant plus a ``_tz`` tag on the Series; every
    field accessor below reads through ``self._e``, which localizes
    aware series to their zone's wall-clock first — so ``.dt.hour``
    on an aware series is the local hour, exactly as pandas."""

    def __init__(self, s: "Series"):
        self._s = s
        tz = getattr(s, "_tz", None)
        # Localized view: aware series expose zone wall-clock fields.
        self._e = F.from_utc_timestamp(s._expr, tz) if tz else s._expr

    def _wrap(self, expr: Column) -> "Series":
        return Series(self._s._frame, expr, self._s._name)

    def _wrap_ts(self, local_expr: Column) -> "Series":
        """Wrap a timestamp-valued result computed in local wall-clock:
        aware series re-anchor to the stored UTC instant + tag."""
        tz = getattr(self._s, "_tz", None)
        if tz:
            out = Series(
                self._s._frame, F.to_utc_timestamp(local_expr, tz),
                self._s._name,
            )
            out._tz = tz
            return out
        return self._wrap(local_expr)

    def _td_us(self) -> Column:
        """Total signed microseconds of a timedelta (day-time interval)
        series — ``unix_micros(epoch + itv)`` is exact incl. negatives
        and sub-second fractions (cast-to-bigint truncates)."""
        return F.unix_micros(F.timestamp_seconds(F.lit(0)) + self._s._expr)

    @property
    def year(self):
        return self._wrap(F.year(self._e))

    @property
    def month(self):
        return self._wrap(F.month(self._e))

    @property
    def day(self):
        return self._wrap(F.dayofmonth(self._e))

    @property
    def hour(self):
        return self._wrap(F.hour(self._e))

    @property
    def minute(self):
        return self._wrap(F.minute(self._e))

    @property
    def second(self):
        return self._wrap(F.second(self._e))

    @property
    def dayofweek(self):
        # pandas: Monday=0; Spark dayofweek: Sunday=1
        return self._wrap((F.dayofweek(self._e) + 5) % 7)

    @property
    def dayofyear(self):
        return self._wrap(F.dayofyear(self._e))

    @property
    def quarter(self):
        return self._wrap(F.quarter(self._e))

    @property
    def date(self):
        return self._wrap(F.to_date(self._e))

    @staticmethod
    def _parse_freq(freq: str):
        """pandas offset alias → (count, unit_name, unit_seconds|None).
        Handles multiplied sub-day aliases ("15min", "2H"); calendar
        units (W/M/Y) have no fixed second span and only support n=1."""
        import re

        m = re.fullmatch(r"(\d*)\s*([A-Za-z]+)", freq)
        if not m:
            raise ValueError(f"unsupported freq {freq!r}")
        n = int(m.group(1) or 1)
        key = m.group(2)
        unit = {"D": "day", "d": "day", "H": "hour", "h": "hour",
                "T": "minute", "min": "minute", "S": "second", "s": "second",
                "M": "month", "W": "week", "Y": "year"}.get(key)
        if unit is None:
            raise ValueError(f"unsupported freq unit {key!r}")
        secs = {"second": 1, "minute": 60, "hour": 3600, "day": 86400}.get(unit)
        if n != 1 and secs is None:
            raise ValueError(f"multiplied {unit} freq unsupported ({freq!r})")
        return n, unit, secs

    def floor(self, freq: str):
        """Multiplied sub-day frequencies ("15min") floor via epoch
        arithmetic (UTC session tz: day-and-below units have fixed
        spans); n=1 units use date_trunc."""
        n, unit, secs = self._parse_freq(freq)
        return self._wrap_ts(self._floor_local(self._e, n, unit, secs))

    @staticmethod
    def _floor_local(e: Column, n: int, unit: str, secs) -> Column:
        if n == 1:
            return F.date_trunc(unit, e)
        step = n * secs
        epoch = e.cast("timestamp").cast("long")
        return F.timestamp_seconds((epoch - epoch % step).cast("long"))

    def strftime(self, fmt: str):
        # translate the common pandas directives to JVM pattern
        m = {"%Y": "yyyy", "%m": "MM", "%d": "dd", "%H": "HH",
             "%M": "mm", "%S": "ss"}
        for k, v in m.items():
            fmt = fmt.replace(k, v)
        return self._wrap(F.date_format(self._e, fmt))

    # ---- long tail (reference: accessor.py DatetimeAccessor
    # delegates every pandas dt property) -------------------------------
    @property
    def weekday(self):
        """Monday=0 (pandas) — Spark's dayofweek is Sunday=1."""
        return self._wrap((F.dayofweek(self._e) + 5) % 7)

    @property
    def weekofyear(self):
        return self._wrap(F.weekofyear(self._e))

    week = weekofyear

    @property
    def days_in_month(self):
        return self._wrap(F.dayofmonth(F.last_day(self._e)))

    daysinmonth = days_in_month

    @property
    def microsecond(self):
        from dask_spark.functions import epoch_us

        return self._wrap(epoch_us(self._e) % F.lit(1_000_000))

    @property
    def is_month_start(self):
        return self._wrap(F.dayofmonth(self._e) == 1)

    @property
    def is_month_end(self):
        e = self._e
        return self._wrap(F.to_date(e) == F.last_day(e))

    @property
    def is_quarter_start(self):
        e = self._e
        return self._wrap(
            (F.dayofmonth(e) == 1) & (F.month(e).isin([1, 4, 7, 10]))
        )

    @property
    def is_quarter_end(self):
        e = self._e
        return self._wrap(
            (F.to_date(e) == F.last_day(e))
            & (F.month(e).isin([3, 6, 9, 12]))
        )

    @property
    def is_year_start(self):
        e = self._e
        return self._wrap((F.dayofyear(e) == 1))

    @property
    def is_year_end(self):
        e = self._e
        return self._wrap((F.month(e) == 12) & (F.dayofmonth(e) == 31))

    @property
    def time(self):
        return self._wrap(F.date_format(self._e, "HH:mm:ss"))

    def month_name(self):
        return self._wrap(F.date_format(self._e, "MMMM"))

    def day_name(self):
        return self._wrap(F.date_format(self._e, "EEEE"))

    def normalize(self):
        return self._wrap_ts(F.date_trunc("day", self._e))

    def ceil(self, freq: str):
        """Ceil to the freq: floor, + one step when not aligned."""
        n, unit, secs = self._parse_freq(freq)
        # floor() may have re-anchored an aware series; redo in local.
        fl = DtAccessor._floor_local(self._e, n, unit, secs)
        e = self._e
        if secs is not None:
            bump = fl + F.expr(f"INTERVAL {n * secs} SECOND")
        else:
            bump = fl + F.expr(f"INTERVAL 1 {unit}")
        return self._wrap_ts(F.when(e == fl, e).otherwise(bump))

    def round(self, freq: str):
        """Round to the nearest freq multiple, half-to-even on exact
        ties (pandas Timestamp.round banker's rule). Epoch arithmetic
        in the series' local wall-clock; calendar units (n=1 M/W/Y)
        have no fixed span and are rejected like pandas rejects
        non-fixed frequencies for round."""
        n, unit, secs = self._parse_freq(freq)
        if secs is None:
            raise ValueError(
                f"round requires a fixed frequency, got {freq!r} "
                "(pandas: <M8 non-fixed offsets are invalid for round)"
            )
        step = n * secs
        e = self._e
        us = F.unix_micros(e.cast("timestamp"))
        # exact long arithmetic throughout: floor(us/step) via double
        # division loses integer precision past 2^53 µs (~year 2255 /
        # far-negative), so derive the floored multiple from pmod and
        # test quotient parity through a second pmod — mirroring the
        # oracle's integer floor-div chain bit-for-bit at any epoch.
        step_us = F.lit(step * 1_000_000).cast("long")
        r = F.pmod(us, step_us)          # in [0, step_us), exact
        floored = us - r                 # == q * step_us, exact long
        half = F.lit(step * 500_000).cast("long")
        q_odd = F.pmod(floored, F.lit(step * 2_000_000).cast("long")) != 0
        up = (r > half) | ((r == half) & q_odd)
        rounded = floored + F.when(up, step_us).otherwise(F.lit(0))
        return self._wrap_ts(F.timestamp_micros(rounded))

    # ---- timezone surface (reference: dask_expr/_datetime.py:31-32
    # proxies pandas tz_convert/tz_localize) ---------------------------
    @property
    def tz(self):
        """The zone tag of an aware series, or None (pandas: .dt.tz)."""
        return getattr(self._s, "_tz", None)

    def tz_localize(self, tz, ambiguous=True, nonexistent="shift_by_gap"):
        """Interpret naive wall-clock values as zone ``tz`` and return
        an aware series (stored as UTC instant + tag; engine NTZ
        policy keeps the physical column TIMESTAMP in the UTC
        session).

        DST semantics are the JVM zone rules (``to_utc_timestamp``):
        ambiguous fall-back times resolve to the EARLIER offset
        (== pandas ``ambiguous=True``); nonexistent spring-forward
        times shift forward BY THE GAP LENGTH (02:30 in a 1h gap →
        03:30 local) — the engine names this mode 'shift_by_gap'.
        pandas' ``nonexistent='shift_forward'`` snaps to the gap END
        (03:00), different values, so passing the pandas name raises
        instead of silently returning non-pandas semantics. Tested at
        both boundaries in tests/test_dt_tz.py. pandas' 'raise' modes
        are unsupported — detecting them needs a per-row round-trip
        probe."""
        cur = getattr(self._s, "_tz", None)
        if tz is None:
            if cur is None:
                raise TypeError(
                    "Already tz-naive — tz_localize(None) removes a "
                    "timezone and this series has none"
                )
            out = Series(
                self._s._frame,
                F.from_utc_timestamp(self._s._expr, cur),
                self._s._name,
            )
            out._tz = None
            return out
        if cur is not None:
            raise TypeError(
                f"Already tz-aware ({cur}); use tz_convert to convert"
            )
        if ambiguous is not True or nonexistent != "shift_by_gap":
            raise NotImplementedError(
                "JVM zone rules pin ambiguous=True / "
                "nonexistent='shift_by_gap' (shift forward by the gap "
                "LENGTH: 02:30 in a 1h gap -> 03:30 local). pandas' "
                "'shift_forward' (snap to gap END -> 03:00) and the "
                "other pandas modes need per-row probes Spark cannot "
                "express in one codegen expression"
            )
        out = Series(
            self._s._frame,
            F.to_utc_timestamp(self._s._expr, str(tz)),
            self._s._name,
        )
        out._tz = str(tz)
        return out

    def tz_convert(self, tz):
        """Change an aware series' zone. The stored UTC instant is
        unchanged — only the tag moves, so this is a zero-cost
        metadata operation; field accessors re-localize through the
        new tag. ``tz_convert(None)`` = convert to UTC then drop the
        tag (pandas semantics), which is exactly the stored instant."""
        cur = getattr(self._s, "_tz", None)
        if cur is None:
            raise TypeError(
                "Cannot convert tz-naive timestamps, use tz_localize"
            )
        out = Series(self._s._frame, self._s._expr, self._s._name)
        out._tz = None if tz is None else str(tz)
        return out

    @property
    def timetz(self):
        """Local wall-clock time with the zone suffix (pandas returns
        zone-tagged time objects; string form here — Spark has no
        time-of-day type)."""
        tz = getattr(self._s, "_tz", None)
        base = F.date_format(self._e, "HH:mm:ss")
        if tz:
            return self._wrap(F.concat(base, F.lit(" " + tz)))
        return self._wrap(base)

    # ---- ISO calendar / leap year ------------------------------------
    def isocalendar(self) -> "DaskFrame":
        """(year, week, day) per ISO 8601 — YEAROFWEEK extraction +
        weekofyear + Monday=1 weekday, matching pandas' UInt32 frame
        column-for-column (values, not dtype widths)."""
        tmp = "__iso_src"
        out = self._s._frame._sdf.withColumn(tmp, self._e).select(
            F.expr(f"extract(YEAROFWEEK FROM {tmp})").alias("year"),
            F.weekofyear(F.col(tmp)).alias("week"),
            (F.expr(f"weekday({tmp})") + F.lit(1)).alias("day"),
        )
        return DaskFrame(out)

    @property
    def is_leap_year(self):
        y = F.year(self._e)
        return self._wrap(
            ((y % 4 == 0) & (y % 100 != 0)) | (y % 400 == 0)
        )

    @property
    def nanosecond(self):
        """Spark timestamps are microsecond precision — the ns
        component within the µs is always 0 (pandas: remainder ns)."""
        return self._wrap(F.lit(0))

    # ---- timedelta surface (pandas .dt on timedelta64 series; the
    # engine's timedeltas are Spark day-time intervals, e.g. ts - ts).
    # Parts use pandas' floored-days + non-negative remainder split,
    # derived from exact signed total microseconds (_td_us). ----------
    def total_seconds(self):
        return self._wrap(self._td_us() / F.lit(1_000_000.0))

    @property
    def days(self):
        return self._wrap(
            F.floor(self._td_us() / F.lit(86_400_000_000)).cast("long")
        )

    @property
    def seconds(self):
        rem = F.pmod(self._td_us(), F.lit(86_400_000_000))
        return self._wrap(F.floor(rem / F.lit(1_000_000)).cast("long"))

    @property
    def microseconds(self):
        return self._wrap(F.pmod(self._td_us(), F.lit(1_000_000)).cast("long"))

    @property
    def nanoseconds(self):
        """µs-precision intervals: ns remainder is always 0."""
        return self._wrap(F.lit(0))

    @property
    def components(self) -> "DaskFrame":
        """pandas Timedelta components frame: days + non-negative
        h/m/s/ms/us/ns remainder columns, one scan, all codegen."""
        us = self._td_us()
        days = F.floor(us / F.lit(86_400_000_000)).cast("long")
        rem = F.pmod(us, F.lit(86_400_000_000))
        out = self._s._frame._sdf.select(
            days.alias("days"),
            F.floor(rem / F.lit(3_600_000_000)).cast("long").alias("hours"),
            F.pmod(F.floor(rem / F.lit(60_000_000)), F.lit(60))
            .cast("long").alias("minutes"),
            F.pmod(F.floor(rem / F.lit(1_000_000)), F.lit(60))
            .cast("long").alias("seconds"),
            F.pmod(F.floor(rem / F.lit(1_000)), F.lit(1_000))
            .cast("long").alias("milliseconds"),
            F.pmod(rem, F.lit(1_000)).cast("long").alias("microseconds"),
            F.lit(0).cast("long").alias("nanoseconds"),
        )
        return DaskFrame(out)

    # ---- period surface (pandas PeriodDtype; Spark has no period
    # type — to_period represents a period by its START timestamp,
    # the canonical instant form; period-only fields are refused with
    # composition guidance, mirroring the engine's documented-refusal
    # policy for unrepresentable dtypes) ------------------------------
    def to_period(self, freq: str | None = None):
        """Period as its start instant: date_trunc at the freq (pandas
        Period.start_time equivalence; use .dt.floor for sub-day)."""
        if freq is None:
            raise ValueError("to_period requires freq (no inferred freq)")
        n, unit, secs = self._parse_freq(freq)
        return self._wrap_ts(self._floor_local(self._e, n, unit, secs))

    @property
    def start_time(self):
        raise NotImplementedError(
            "PeriodDtype has no Spark representation; to_period(freq) "
            "already yields start instants — use the series directly"
        )

    @property
    def end_time(self):
        raise NotImplementedError(
            "PeriodDtype has no Spark representation; compose "
            ".dt.ceil(freq) - INTERVAL 1 MICROSECOND for end instants"
        )

    @property
    def freq(self):
        """Timestamp series carry no freq metadata (pandas: None for
        non-period dtypes)."""
        return None

    @property
    def qyear(self):
        raise NotImplementedError(
            "PeriodDtype (fiscal quarter year) has no Spark "
            "representation; use .dt.year / .dt.quarter"
        )

    def to_timestamp(self):
        raise NotImplementedError(
            "to_timestamp converts PeriodDtype, which has no Spark "
            "representation — series here are already timestamps"
        )

    # ---- driver-side materializers (dask warns these materialize;
    # same contract here: one collect, object-dtype result) ------------
    def to_pydatetime(self):
        import numpy as np

        pds = self._wrap(self._e).compute()
        return np.array(pds.dt.to_pydatetime())

    def to_pytimedelta(self):
        import numpy as np

        us = self._wrap(self._td_us()).compute()
        import datetime as _dt

        return np.array(
            [None if v is None else _dt.timedelta(microseconds=int(v))
             for v in us],
            dtype=object,
        )

    @property
    def day_of_week(self):
        return self.weekday

    @property
    def day_of_year(self):
        return self.dayofyear


class CatAccessor:
    """``.cat`` — categorical accessor (reference:
    dask/dataframe/dask_expr/_categorical.py CategoricalAccessor:
    known/categories/codes/as_known/as_unknown/add_categories/
    remove_categories/rename_categories/set_categories).

    Spark has no categorical dtype; 'known categories' are a
    driver-side list pinned on the Series (dask's known/unknown
    distinction maps exactly: unknown until ``as_known()`` runs the
    one small distinct job). ``codes`` is a literal sorted-array lookup
    — right for accessor-scale category sets (dask's contract: known
    categories fit in memory); the high-cardinality scale path is
    ``operators.reshape.categorize`` (broadcast code-table join)."""

    def __init__(self, s: "Series"):
        self._s = s

    def _cats_or_raise(self) -> list:
        cats = getattr(self._s, "_categories", None)
        if cats is None:
            raise ValueError(
                f"categories of {self._s._name!r} are unknown — call "
                ".cat.as_known() first (runs one small distinct job), "
                "matching dask's known-categories contract"
            )
        return cats

    def _with_cats(self, cats: list) -> "Series":
        out = Series(self._s._frame, self._s._expr, self._s._name)
        out._categories = list(cats)
        return out

    @property
    def known(self) -> bool:
        return getattr(self._s, "_categories", None) is not None

    @property
    def categories(self) -> list:
        return list(self._cats_or_raise())

    def as_known(self, max_categories: int = 65536) -> "Series":
        """Compute the category set (sorted distinct, one tiny job —
        the dask as_known() shape) and pin it on the Series."""
        from dask_spark.operators.reshape import _distinct_guarded

        tmp = self._s._frame._sdf.select(self._s._expr.alias("__c"))
        cats = _distinct_guarded(tmp, "__c", max_categories, "as_known")
        return self._with_cats(cats)

    def as_unknown(self) -> "Series":
        out = Series(self._s._frame, self._s._expr, self._s._name)
        out._categories = None
        return out

    @property
    def codes(self) -> "Series":
        """0-based position in the known categories; -1 for values not
        in the set and for nulls (the pandas code for NaN)."""
        cats = self._cats_or_raise()
        arr = F.array(*[F.lit(c) for c in cats])
        pos = F.array_position(arr, self._s._expr).cast("int")
        expr = F.coalesce(pos - F.lit(1), F.lit(-1)).cast("int")
        return Series(self._s._frame, expr, self._s._name)

    def add_categories(self, new: list) -> "Series":
        cats = self._cats_or_raise()
        dup = [c for c in new if c in cats]
        if dup:
            raise ValueError(f"new categories must not already exist: {dup}")
        return self._with_cats(cats + list(new))

    def remove_categories(self, drop: list) -> "Series":
        cats = self._cats_or_raise()
        missing = [c for c in drop if c not in cats]
        if missing:
            raise ValueError(f"removals must be existing categories: {missing}")
        drop_set = set(drop)
        # values whose category is removed become null (pandas semantics)
        keep = [c for c in cats if c not in drop_set]
        expr = F.when(self._s._expr.isin(*drop_set), F.lit(None)).otherwise(
            self._s._expr
        )
        out = Series(self._s._frame, expr, self._s._name)
        out._categories = keep
        return out

    def rename_categories(self, mapping: dict) -> "Series":
        cats = self._cats_or_raise()
        new_cats = [mapping.get(c, c) for c in cats]
        if len(set(new_cats)) != len(new_cats):
            raise ValueError("rename_categories produced duplicate categories")
        expr = self._s._expr
        for old, new in mapping.items():
            expr = F.when(self._s._expr == F.lit(old), F.lit(new)).otherwise(expr)
        out = Series(self._s._frame, expr, self._s._name)
        out._categories = new_cats
        return out

    def set_categories(self, cats: list) -> "Series":
        """Pin an explicit category list (values outside it code to -1
        and render as null through remove semantics — pandas
        set_categories)."""
        cat_list = list(cats)
        if len(set(cat_list)) != len(cat_list):
            raise ValueError("categories must be unique")
        expr = F.when(self._s._expr.isin(*cat_list), self._s._expr)
        out = Series(self._s._frame, expr, self._s._name)
        out._categories = cat_list
        return out


class Series:
    """Column-expression view bound to a parent DaskFrame (lazy)."""

    def __init__(self, frame: "DaskFrame", expr: Column, name: str):
        self._frame = frame
        self._expr = expr
        self._name = name

    def _tag_tz(self, out: "Series") -> "Series":
        """Propagate the tz-awareness tag onto a derived series whose
        values are still the same timestamps (fillna/where/clip/shift/
        ts±offset). pandas keeps tz in the dtype so it survives these
        automatically; here the tag rides the wrapper and every
        value-preserving op must carry it forward, or .dt accessors
        would silently fall back to UTC fields."""
        tz = getattr(self, "_tz", None)
        if tz is not None:
            out._tz = tz
        return out

    # ---- binary ops -------------------------------------------------
    def _bin(self, other, fn) -> "Series":
        return Series(self._frame, fn(self._expr, _col(other)), self._name)

    def __add__(self, o):
        if isinstance(o, str):  # pandas: str + str concatenates
            return self._bin(o, lambda a, b: F.concat(a, b))
        if not isinstance(o, Series):
            # aware ts + offset stays aware (pandas: tz in the dtype)
            return self._tag_tz(self._bin(o, lambda a, b: a + b))
        return self._bin(o, lambda a, b: a + b)

    def __radd__(self, o):
        if isinstance(o, str):
            return self._bin(o, lambda a, b: F.concat(b, a))
        return self._bin(o, lambda a, b: b + a)

    def __sub__(self, o):
        if not isinstance(o, Series):
            # aware ts - timedelta/offset stays a timestamp → keep the
            # tag; aware ts - Timestamp/datetime scalar is an interval
            # (timedelta) → drop it, mirroring the Series-Series branch
            # (a tz tag on an interval would route .dt accessors
            # through from_utc_timestamp and fail analysis)
            if _is_timedelta_like(o):
                return self._tag_tz(self._bin(o, lambda a, b: a - b))
            return self._bin(o, lambda a, b: a - b)
        return self._bin(o, lambda a, b: a - b)

    def __rsub__(self, o):
        return self._bin(o, lambda a, b: b - a)

    def __mul__(self, o):
        return self._bin(o, lambda a, b: a * b)

    def __rmul__(self, o):
        return self._bin(o, lambda a, b: b * a)

    def __truediv__(self, o):
        return self._bin(o, lambda a, b: a / b)

    def __rtruediv__(self, o):
        return self._bin(o, lambda a, b: b / a)

    def __mod__(self, o):
        return self._bin(o, lambda a, b: a % b)

    def __pow__(self, o):
        return self._bin(o, lambda a, b: F.pow(a, b))

    # ---- comparisons: pandas missing semantics (r14 fuzz finds).
    # pandas: any comparison with a missing value (NaN/None/NaT) is
    # False — except != which is True. Spark instead ORDERS NaN
    # greatest (NaN > x is TRUE, NaN == NaN is TRUE) and propagates
    # null. So float operands get NaN→null first (nanvl), and the
    # null comparison result folds to the pandas constant. This also
    # makes string/timestamp null comparisons pandas-exact (None ==
    # 'x' → False, None != 'x' → True), and filters keep dropping
    # missing-keyed rows either way. -----------------------------------

    def _cmp_guards(self, x) -> "list[Column] | None":
        """Missing-guards for one comparison operand: IS NOT NULL, and
        NOT isnan for float types (type-probed). None = the operand is
        a non-finite float LITERAL (NaN), i.e. the whole comparison is
        degenerate."""
        if not isinstance(x, Series) and not isinstance(x, Column):
            # plain literal: only NaN/None itself is "missing"
            import math as _math

            if x is None or (isinstance(x, float) and _math.isnan(x)):
                return None
            return []
        c = _col(x)
        probe = x._expr if isinstance(x, Series) else c
        frame = x._frame if isinstance(x, Series) else self._frame
        guards = [c.isNotNull()]
        t = _probe_dtype(frame, probe)
        if t in ("float", "double"):
            guards.append(~F.isnan(c))
        return guards

    def _cmp(self, o, fn, null_result: bool = False) -> "Series":
        """Comparison with pandas missing semantics, PUSHDOWN-SHAPED:
        the raw comparison stays a bare predicate and the missing fold
        rides as extra conjuncts (`cmp AND a IS NOT NULL AND NOT
        isnan(a)`), which Catalyst splits so the pushable parts still
        reach the parquet scan — a coalesce/when wrapper would block
        PushedFilters entirely (caught by test_plans in r14). For !=
        (missing → True) the fold is the dual disjunction; that one is
        inherently not a source filter under pandas semantics (pushing
        it would drop missing rows the semantics keep)."""
        raw = fn(_col(self), _col(o))
        gs = self._cmp_guards(self)
        go = self._cmp_guards(o)
        if gs is None or go is None:  # comparison against a NaN literal
            return Series(self._frame, F.lit(null_result), self._name)
        guards = gs + go
        if not null_result:
            out = raw
            for g in guards:
                out = out & g
        else:
            out = raw
            for g in guards:
                out = out | ~g
        return Series(self._frame, out, self._name)

    def __gt__(self, o):
        return self._cmp(o, lambda a, b: a > b)

    def __ge__(self, o):
        return self._cmp(o, lambda a, b: a >= b)

    def __lt__(self, o):
        return self._cmp(o, lambda a, b: a < b)

    def __le__(self, o):
        return self._cmp(o, lambda a, b: a <= b)

    def __eq__(self, o):  # type: ignore[override]
        return self._cmp(o, lambda a, b: a == b)

    def __ne__(self, o):  # type: ignore[override]
        # pandas: NaN != x is TRUE (the one comparison where missing
        # folds to True)
        return self._cmp(o, lambda a, b: a != b, null_result=True)

    def __and__(self, o):
        return self._bin(o, lambda a, b: a & b)

    def __or__(self, o):
        return self._bin(o, lambda a, b: a | b)

    def __invert__(self):
        return Series(self._frame, ~self._expr, self._name)

    def __neg__(self):
        return Series(self._frame, -self._expr, self._name)

    def __bool__(self):
        raise TypeError(
            "The truth value of a Series is ambiguous — use "
            ".any() / .all(), or compute() to pandas first "
            "(pandas/dask raise here too; a silently-truthy lazy "
            "column in an `if` is always a bug)"
        )

    def __len__(self) -> int:
        # pandas/dask: len(series) is the row count (one job)
        return self._frame._sdf.count()

    def __iter__(self):
        # pandas/dask: iterating a Series yields VALUES, streamed
        # partition-by-partition (never one big collect)
        for row in self.to_frame()._sdf.toLocalIterator():
            yield row[0]

    @property
    def name(self) -> str:
        return self._name

    @property
    def dtype(self) -> str:
        return dict(
            self._frame._sdf.select(self._expr.alias("__t")).dtypes
        )["__t"]

    @property
    def values(self):
        """Eager numpy values (dask raises on unknown shapes; here one
        collect — same cost as .compute().values)."""
        return self.compute().to_numpy()

    # named comparison forms (reference: _collection.py gt/ge/lt/le)
    def gt(self, o):
        return self.__gt__(o)

    def ge(self, o):
        return self.__ge__(o)

    def lt(self, o):
        return self.__lt__(o)

    def le(self, o):
        return self.__le__(o)

    def eq(self, o):
        return self.__eq__(o)

    def ne(self, o):
        return self.__ne__(o)

    def dot(self, other: "Series"):
        """Series dot product (reference: _collection.py dot): one
        sum aggregate of the products — a scalar."""
        return self._frame._sdf.agg(
            F.sum(self._expr * other._expr)
        ).first()[0]

    def combine(self, other: "Series", func, dtype: str = "double") -> "Series":
        """Pairwise combine with a python fn (reference: _collection.py
        combine) — Arrow-batched pandas UDF over the two columns."""
        import pandas as pd
        from pyspark.sql.functions import pandas_udf

        def _c(a, b):
            return pd.Series([func(x, y) for x, y in zip(a, b)])

        _c.__annotations__ = {"a": pd.Series, "b": pd.Series,
                              "return": pd.Series}
        u = pandas_udf(dtype)(_c)
        return Series(self._frame, u(self._expr, other._expr), self._name)

    # ---- elementwise ------------------------------------------------
    def alias(self, name: str) -> "Series":
        return self._tag_tz(Series(self._frame, self._expr.alias(name), name))

    rename = alias

    def isin(self, values: Iterable) -> "Series":
        if isinstance(values, (Series, DaskFrame)):
            # dask-faithful: dask Series.isin also rejects dask
            # collections (the membership side must be concrete)
            raise TypeError(
                "isin with a distributed collection: compute() the "
                "values first, or express it as a semi join "
                "(merge(..., how='semi'))"
            )
        return Series(self._frame, self._expr.isin(list(values)), self._name)

    def between(self, lo, hi) -> "Series":
        return Series(self._frame, self._expr.between(lo, hi), self._name)

    def isna(self) -> "Series":
        return Series(self._frame, self._expr.isNull(), self._name)

    isnull = isna

    def notna(self) -> "Series":
        return Series(self._frame, self._expr.isNotNull(), self._name)

    notnull = notna

    def fillna(self, value) -> "Series":
        return self._tag_tz(Series(
            self._frame, F.coalesce(self._expr, _col(value)), self._name
        ))

    def astype(self, dtype: str) -> "Series":
        return Series(self._frame, self._expr.cast(_SPARK_DTYPES.get(dtype, dtype)), self._name)

    def where(self, cond: "Series", other=None) -> "Series":
        return self._tag_tz(Series(
            self._frame,
            F.when(_col(cond), self._expr).otherwise(_col(other)),
            self._name,
        ))

    def mask(self, cond: "Series", other=None) -> "Series":
        return self._tag_tz(Series(
            self._frame,
            F.when(~_col(cond), self._expr).otherwise(_col(other)),
            self._name,
        ))

    def clip(self, lower=None, upper=None) -> "Series":
        e = self._expr
        if lower is not None:
            e = F.greatest(e, F.lit(lower))
        if upper is not None:
            e = F.least(e, F.lit(upper))
        return self._tag_tz(Series(self._frame, e, self._name))

    def round(self, n: int = 0) -> "Series":
        return Series(self._frame, F.round(self._expr, n), self._name)

    def abs(self) -> "Series":
        return Series(self._frame, F.abs(self._expr), self._name)

    def map(self, fn, dtype: str = "string", na_action: str | None = None
            ) -> "Series":
        """pandas Series.map. A dict/Mapping lowers to a JVM literal-map
        lookup (try_element_at — no Python, missing keys → null exactly
        like pandas' NaN; ANSI-safe). A callable runs as an Arrow pandas
        UDF (slow path by design); na_action='ignore' skips nulls."""
        from collections.abc import Mapping as _Mapping

        if isinstance(fn, _Mapping):
            # lowerable = non-null keys, homogeneous key/value types
            # (Spark maps reject null keys and mixed types); anything
            # else falls back to the pandas-UDF path, which handles
            # every dict pandas does
            kt = {type(k) for k in fn}
            vt = {type(v) for v in fn.values() if v is not None}
            # the lookup key must be castable to the literal-map key
            # type or Catalyst rejects the plan (pandas just returns
            # all-NaN for e.g. int keys over a string column) — probe
            # the resolved column type and fall back when they clash.
            # Key types NOT in the table keep the JVM path (the
            # pre-gate behavior): F.lit supports date/datetime/
            # Decimal/bytes and those lowerings were already valid.
            keys_ok = True
            if len(kt) == 1:
                import datetime as _dt
                import decimal as _dec

                from pyspark.sql import types as T

                coldt = self._frame._sdf.select(
                    self._expr.alias("__t")
                ).schema[0].dataType
                pyt = next(iter(kt))
                numeric = (T.NumericType,)
                compat = {
                    # bool is NOT coercible to numeric map keys
                    # (element_at(map<boolean,_>, int) has no implicit
                    # cast — DATATYPE_MISMATCH at plan time)
                    bool: (T.BooleanType,),
                    int: numeric,
                    float: numeric,
                    _dec.Decimal: numeric,
                    str: (T.StringType,),
                    _dt.date: (T.DateType,),
                    _dt.datetime: (T.TimestampType, T.TimestampNTZType),
                    bytes: (T.BinaryType,),
                }
                if pyt in compat:
                    keys_ok = isinstance(coldt, compat[pyt])
            if len(kt) <= 1 and None not in fn and len(vt) <= 1 and keys_ok:
                entries = []
                for k in fn:
                    entries.extend([F.lit(k), F.lit(fn[k])])
                if not entries:
                    return Series(
                        self._frame, F.lit(None).cast(dtype), self._name
                    )
                return Series(
                    self._frame,
                    F.try_element_at(F.create_map(*entries), self._expr),
                    self._name,
                )
            mapping = dict(fn)
            fn = lambda x: mapping.get(x)  # noqa: E731
        from pyspark.sql.functions import pandas_udf

        @pandas_udf(dtype)
        def _udf(s):
            return s.map(fn, na_action=na_action)

        return Series(self._frame, _udf(self._expr), self._name)

    @property
    def str(self) -> StrAccessor:
        return StrAccessor(self)

    @property
    def dt(self) -> DtAccessor:
        return DtAccessor(self)

    @property
    def cat(self) -> CatAccessor:
        return CatAccessor(self)

    # ---- reductions (eager scalars, like .compute() on dask scalar) --
    def _agg_scalar(self, expr: Column):
        return self._frame._sdf.select(expr.alias("v")).first()["v"]

    def _skipna_expr(self) -> Column:
        """pandas skipna semantics for FLOAT inputs: NaN is a missing
        value to every reduction, whether it arrived at a boundary
        (from_pandas translates those) or was created MID-PLAN
        (sqrt(-1), 0/0, log(-x)) — Spark would otherwise poison sums
        and sort NaN greatest in min/max (r14 fuzz-class finding).
        Non-float inputs pass through untouched (nanvl would coerce
        ints to double and change sum dtypes)."""
        t = _probe_dtype(self._frame, self._expr)
        if t in ("float", "double"):
            return F.nanvl(self._expr, F.lit(None).cast(t))
        return self._expr

    def sum(self):
        # pandas min_count=0: empty/all-missing sums to 0, not NULL
        # (same contract adopted for groupby sum in r14)
        return self._agg_scalar(
            F.coalesce(F.sum(self._skipna_expr()), F.lit(0))
        )

    def mean(self):
        return self._agg_scalar(F.avg(self._skipna_expr()))

    def min(self):
        return self._agg_scalar(F.min(self._skipna_expr()))

    def max(self):
        return self._agg_scalar(F.max(self._skipna_expr()))

    def count(self):
        return self._agg_scalar(F.count(self._skipna_expr()))

    def std(self):
        return self._agg_scalar(F.stddev_samp(self._skipna_expr()))

    def var(self):
        return self._agg_scalar(F.var_samp(self._skipna_expr()))

    def nunique(self):
        # pandas dropna=True: missing (null or mid-plan NaN) excluded
        return self._agg_scalar(F.countDistinct(self._skipna_expr()))

    def nunique_approx(self, rsd: float = 0.01):
        """reference: dask/dataframe/hyperloglog.py → native HLL++.
        rsd=1% (dask defaults to 16384 registers ≈ 0.8%); sketch state
        is ~10 KB per agg — negligible even with millions of groups."""
        return self._agg_scalar(F.approx_count_distinct(self._expr, rsd))

    def nunique_hll(self, p: int = 9, hash_kind: str = "md5") -> float:
        """Engine-PORTABLE HyperLogLog distinct estimate — unlike
        nunique_approx (Spark-native HLL++, opaque sketch), this is
        the replayable variant whose md5 mode a plain-SQL engine
        reproduces register-for-register and bit-for-bit
        (operators/sketch.py hll_count_distinct; exchange bounded by
        2^p register pairs per partition)."""
        from dask_spark.operators.sketch import hll_count_distinct

        sel = self._frame._sdf.select(self._expr.alias("__v"))
        return hll_count_distinct(
            sel, "__v", p=p, hash_kind=hash_kind
        ).to_spark().first()["est_distinct"]

    def autocorr(self, lag: int = 1, order_by: str | None = None):
        """Pearson corr of (x_t, x_{t+lag}) (reference: _collection.py
        autocorr). NO single-partition window: rows get a scale-safe
        global index (range partition + per-partition row_number +
        driver offsets — operators/sort.py with_global_index), then the
        lag pairing is a self-equi-join on index (parallel shuffle on a
        uniform long key) feeding one corr aggregate."""
        from dask_spark.operators.sort import with_global_index

        ob = order_by or self._name
        base = self._frame._sdf.select(
            F.col(ob).alias("__o"), self._expr.alias("__x")
        )
        idx = with_global_index(base, "__o", "__i")
        xs = idx.select("__i", "__x")
        ys = idx.select((F.col("__i") + F.lit(lag)).alias("__i"),
                        F.col("__x").alias("__y"))
        return xs.join(ys, "__i").agg(F.corr("__x", "__y")).first()[0]

    def is_monotonic_increasing(self, order_by: str) -> bool:
        """reference: _collection.py:4624 — dask checks along the
        index; this engine has no implicit row order, so the order
        column is explicit (same contract as autocorr)."""
        return self._frame._is_monotonic(self._name, order_by, increasing=True)

    def is_monotonic_decreasing(self, order_by: str) -> bool:
        return self._frame._is_monotonic(self._name, order_by, increasing=False)

    def quantile(self, q=0.5):
        """reference: dask/dataframe/partitionquantiles.py → GK sketch.
        A LIST of levels runs in the same single sketch pass
        (percentile_approx takes an array) and returns an eager pandas
        Series indexed by level, like the scalar form is eager."""
        if isinstance(q, (list, tuple)):
            import pandas as pd

            levels = [float(x) for x in q]
            arr = self._frame._sdf.agg(
                F.percentile_approx(self._expr, levels).alias("v")
            ).first()["v"]
            return pd.Series(list(arr), index=levels, name=self._name)
        return self._agg_scalar(F.percentile_approx(self._expr, q))

    def median(self):
        return self.quantile(0.5)

    def prod(self):
        return self._agg_scalar(
            F.coalesce(F.product(self._skipna_expr()), F.lit(1.0))
        )

    def sem(self, ddof: int = 1):
        # skipna like the other Series reductions: NaN must not inflate
        # n (Spark count() treats NaN as non-null) nor poison stddev
        e = self._skipna_expr()
        n = F.count(e)
        sd = F.stddev_samp(e) if ddof else F.stddev_pop(e)
        return self._agg_scalar(sd / F.sqrt(n))

    def skew(self):
        return self._agg_scalar(F.skewness(self._skipna_expr()))

    def kurt(self):
        return self._agg_scalar(F.kurtosis(self._skipna_expr()))

    kurtosis = kurt

    def any(self):
        return bool(self._agg_scalar(F.max(self._expr.cast("boolean"))))

    def all(self):
        v = self._agg_scalar(F.min(self._expr.cast("boolean")))
        return True if v is None else bool(v)  # empty: pandas all()=True

    def idxmax(self, id_col: str | None = None):
        """Label of the max (reference: _reductions idxmax). dask reads
        the index; the engine's analog is the set_index column or an
        explicit ``id_col``."""
        idc = id_col or getattr(self._frame, "_index_col", None)
        if idc is None:
            raise ValueError("idxmax needs set_index(...) or id_col=")
        return self._agg_scalar(F.max_by(F.col(idc), self._expr))

    def idxmin(self, id_col: str | None = None):
        idc = id_col or getattr(self._frame, "_index_col", None)
        if idc is None:
            raise ValueError("idxmin needs set_index(...) or id_col=")
        return self._agg_scalar(F.min_by(F.col(idc), self._expr))

    # ---- named arithmetic (pandas method spellings) -------------------
    def add(self, o):
        return self + o

    def radd(self, o):
        return self.__radd__(o)

    def sub(self, o):
        return self - o

    def rsub(self, o):
        return self.__rsub__(o)

    def mul(self, o):
        return self * o

    def div(self, o):
        return self / o

    truediv = div

    def pow(self, o):
        return self ** o

    def mod(self, o):
        return self % o

    def floordiv(self, o):
        return self._bin(o, lambda a, b: F.floor(a / b))

    def pipe(self, fn, *a, **kw):
        return fn(self, *a, **kw)

    def replace(self, mapping: Mapping) -> "Series":
        """Value replacement via a chained when (linear tree — the
        accumulator never appears in a condition)."""
        expr = self._expr
        for old, new in mapping.items():
            expr = F.when(self._expr == F.lit(old), F.lit(new)).otherwise(expr)
        return Series(self._frame, expr, self._name)

    def searchsorted(self, sorted_values: Sequence) -> "Series":
        """np/pandas searchsorted(side='left') against a LITERAL sorted
        array: count of values strictly below — a monotone comparison
        sum, map-only (same lowering as ndarray.digitize)."""
        expr = F.lit(0)
        for v in sorted_values:
            expr = expr + F.when(self._expr > F.lit(v), 1).otherwise(0)
        return Series(self._frame, expr.cast("int"), self._name)

    def head(self, n: int = 5):
        return self.to_frame().head_frame(n).compute()[self._name]

    def sample(self, frac: float, random_state: int | None = None) -> "Series":
        sdf = self._frame._sdf.sample(frac, seed=random_state)
        return Series(DaskFrame(sdf), self._expr, self._name)

    # ---- order-dependent ops (explicit order_by — the engine has no
    # implicit row order; same contract as autocorr) --------------------
    def _frame_op(self, op: str, order_by: str, **kw) -> "Series":
        out = getattr(self.to_frame_with(order_by), op)(
            self._name, order_by=order_by, **kw
        )
        col = [c for c in out.columns if c not in (self._name, order_by)]
        target = col[-1] if col else self._name
        return Series(out, F.col(target), target)

    def rank(self, method: str = "first", pct: bool = False,
             na_option: str = "keep"):
        """Global value rank WITHOUT a single-partition window: the
        scale-safe global index over value order gives method="first";
        the pandas tie methods (min/max/average/dense) all derive from
        ONE value-keyed aggregate over that index — min rank + tie
        count give max (= min+cnt-1) and average (= min+(cnt-1)/2) in
        closed form, and dense is the global index over the DISTINCT
        value set (dask rank is also a two-pass affair over sorted
        partitions). ``na_option``: 'keep' leaves nulls a null rank;
        'top'/'bottom' rank the nulls as ONE tie group before/after
        every value (pandas semantics — closed-form shifts from two
        broadcast count scalars, no extra shuffle). 'first' with
        top/bottom needs pandas' positional order among the nulls,
        which this engine deliberately has no notion of — raise.
        ``pct`` divides by the non-null count ('keep') or total count
        (top/bottom) — except dense, which pandas normalizes by the
        DISTINCT value count (nulls counting as one value when
        ranked)."""
        from dask_spark.operators.sort import with_global_index

        if na_option not in ("keep", "top", "bottom"):
            raise ValueError("na_option must be keep|top|bottom")
        if na_option != "keep" and method == "first":
            raise ValueError(
                "rank(method='first', na_option='top'/'bottom') needs a "
                "positional order among the nulls, which this engine "
                "does not define — use min/max/average/dense"
            )
        # _skipna_expr: a mid-plan NaN is missing to ranking like null
        # (pandas na_option governs both — r14 missing-value class)
        full = self._frame._sdf.select(
            self._skipna_expr().alias(self._name)
        )
        base = full.filter(F.col(self._name).isNotNull())
        # one broadcast row: total n, non-null nn (null count = n - nn)
        stats = full.agg(
            F.count(F.lit(1)).cast("bigint").alias("__n"),
            F.count(self._name).cast("bigint").alias("__nn"),
        )

        def _finish(out, denom=None):
            nn_rank = F.col("rank")
            n_null = F.col("__n") - F.col("__nn")
            if na_option == "keep":
                null_rank = F.lit(None).cast(dict(out.dtypes)["rank"])
                shift = None
            else:
                is_dense = method == "dense"
                if na_option == "top":
                    shift = (
                        F.when(n_null > 0, F.lit(1)).otherwise(F.lit(0))
                        if is_dense else n_null
                    )
                    null_rank = {
                        "min": F.lit(1).cast("bigint"),
                        "max": n_null,
                        "average": (F.lit(1) + n_null) / F.lit(2.0),
                        "dense": F.lit(1).cast("bigint"),
                    }[method]
                else:  # bottom
                    shift = F.lit(0)
                    null_rank = {
                        "min": F.col("__nn") + 1,
                        "max": F.col("__n"),
                        "average": (
                            (F.col("__nn") + 1 + F.col("__n")) / F.lit(2.0)
                        ),
                        "dense": F.col("__nd") + 1,
                    }[method]
            if na_option == "keep" and not pct:
                nulls = full.filter(F.col(self._name).isNull()).withColumn(
                    "rank", null_rank
                )
                out = out.unionByName(nulls)
            else:
                st = stats
                if method == "dense" and (pct or na_option == "bottom"):
                    # distinct non-null count (dense denominator / the
                    # bottom null-group dense rank)
                    st = st.crossJoin(
                        F.broadcast(
                            denom.agg(
                                F.count(F.lit(1)).cast("bigint")
                                .alias("__nd")
                            )
                        )
                    )
                rdt = (
                    "double" if method == "average" else
                    dict(out.dtypes)["rank"]
                )
                if shift is not None:
                    nn_rank = (F.col("rank") + shift).cast(rdt)
                ranked = out.crossJoin(F.broadcast(st)).withColumn(
                    "rank", nn_rank.cast(rdt)
                )
                nulls = (
                    full.filter(F.col(self._name).isNull())
                    .crossJoin(F.broadcast(st))
                    .withColumn("rank", null_rank.cast(rdt))
                )
                both = ranked.unionByName(nulls)
                if pct:
                    if method == "dense":
                        dden = (
                            F.col("__nd")
                            + (
                                F.lit(0) if na_option == "keep"
                                else F.when(
                                    F.col("__n") > F.col("__nn"), 1
                                ).otherwise(0)
                            )
                        ).cast("double")
                    elif na_option == "keep":
                        dden = F.col("__nn").cast("double")
                    else:
                        dden = F.col("__n").cast("double")
                    both = both.withColumn(
                        "rank", F.col("rank") / dden
                    )
                out = both.drop("__n", "__nn", "__nd") if (
                    "__nd" in both.columns
                ) else both.drop("__n", "__nn")
            return Series(DaskFrame(out), F.col("rank"), self._name)

        if method == "dense":
            distinct = base.distinct()
            idx = with_global_index(distinct, self._name, "__r")
            dense = idx.select(
                self._name, (F.col("__r") + 1).cast("bigint").alias("rank")
            )
            out = base.join(dense, self._name)
            # pandas pct for dense divides by nunique, not n
            return _finish(out, denom=distinct)
        idx = with_global_index(base, self._name, "__r")
        out = idx.select(
            self._name, (F.col("__r") + 1).cast("bigint").alias("rank")
        )
        if method in ("min", "max", "average"):
            ties = out.groupBy(self._name).agg(
                F.min("rank").alias("__mn"),
                F.count(F.lit(1)).alias("__cnt"),
            )
            expr = {
                "min": F.col("__mn"),
                "max": F.col("__mn") + F.col("__cnt") - 1,
                "average": (
                    F.col("__mn").cast("double")
                    + (F.col("__cnt") - 1) / F.lit(2.0)
                ),
            }[method]
            out = (
                out.drop("rank")
                .join(ties, self._name)
                .withColumn("rank", expr)
                .drop("__mn", "__cnt")
            )
        elif method != "first":
            raise ValueError(
                "rank method must be 'first'|'min'|'max'|'average'|'dense'"
            )
        # a Series, like pandas/dask rank — chaining Series ops works;
        # ordering is by value (the engine has no implicit row order,
        # so positional alignment to the source frame is not defined)
        return _finish(out)

    def to_frame_with(self, *extra: str) -> "DaskFrame":
        """Value column + carried order/key columns; an extra equal to
        the series' own name is deduplicated (shift()'s default orders
        by the value itself — selecting it twice would leave two
        same-named columns and an AMBIGUOUS_REFERENCE downstream)."""
        carried = [c for c in extra if c != self._name]
        col_tz = {
            c: z for c, z in self._frame._col_tz.items() if c in carried
        }
        tz = getattr(self, "_tz", None)
        if tz is not None:
            col_tz[self._name] = tz
        return DaskFrame(
            self._frame._sdf.select(
                *[F.col(c) for c in carried], self._expr.alias(self._name)
            ),
            col_tz,
        )

    def shift(self, periods: int = 1, order_by: str | None = None) -> "Series":
        # shifted timestamps are the same instants — awareness survives
        return self._tag_tz(
            self._frame_op("shift", order_by or self._name, periods=periods)
        )

    def diff(self, periods: int = 1, order_by: str | None = None) -> "Series":
        return self._frame_op("diff", order_by or self._name, periods=periods)

    def cumsum(self, order_by: str) -> "Series":
        return self._frame_op("cumsum", order_by)

    def cummax(self, order_by: str) -> "Series":
        return self._frame_op("cummax", order_by)

    def cummin(self, order_by: str) -> "Series":
        return self._frame_op("cummin", order_by)

    def cumprod(self, order_by: str) -> "Series":
        return self._frame_op("cumprod", order_by)

    def rolling(self, window, on: str, min_periods: int | None = None,
                center: bool = False):
        """Series rolling = frame rolling over just this column (the
        order column rides along; same keyless-parallel machinery)."""
        return self.to_frame_with(on).rolling(
            window, on=on, min_periods=min_periods, center=center
        )

    def pct_change(self, order_by: str) -> "Series":
        return self._frame_op("pct_change", order_by)

    def ffill(self, order_by: str) -> "Series":
        out = self.to_frame_with(order_by).ffill([self._name], order_by)
        return Series(out, F.col(self._name), self._name)

    def bfill(self, order_by: str) -> "Series":
        out = self.to_frame_with(order_by).bfill([self._name], order_by)
        return Series(out, F.col(self._name), self._name)

    # ---- to frame ----------------------------------------------------
    def nlargest(self, n: int = 5) -> "DaskFrame":
        """Top-n values (TakeOrdered — never a global sort)."""
        return DaskFrame(
            self._frame._sdf.select(self._expr.alias(self._name))
            .orderBy(F.col(self._name).desc())
            .limit(n)
        )

    def nsmallest(self, n: int = 5) -> "DaskFrame":
        return DaskFrame(
            self._frame._sdf.select(self._expr.alias(self._name))
            .orderBy(F.col(self._name).asc())
            .limit(n)
        )

    def describe(self, percentiles=None) -> "DaskFrame":
        """Single-column describe (long form, same schema as frame
        describe)."""
        return self.to_frame().describe(percentiles)

    def to_frame(self, name: str | None = None) -> "DaskFrame":
        tz = getattr(self, "_tz", None)
        out_name = name or self._name
        return DaskFrame(
            self._frame._sdf.select(self._expr.alias(out_name)),
            {out_name: tz} if tz is not None else None,
        )

    # ---- FrameBase inheritance (reference: dask Series inherits the
    # FULL FrameBase surface, dask_expr/_collection.py) — delegated to
    # the single-column frame: persist/repartition/IO/plan introspection
    # behave exactly like the frame twin over the projected column.
    _FRAME_DELEGATES = frozenset({
        "align", "analyze", "clear_divisions", "columns",
        "compute_current_divisions", "copy", "dask", "divisions",
        "dtypes", "enforce_runtime_divisions", "from_dict",
        "expr", "explain", "get_partition", "index", "known_divisions",
        "loc", "lower_once", "map_overlap", "map_partitions",
        "memory_usage_per_partition", "npartitions", "optimize",
        "partitions", "persist", "pprint", "random_split", "reduction",
        "rename_axis", "repartition", "resample", "reset_index", "shuffle",
        "simplify", "size", "tail", "to_backend", "to_bag", "to_csv",
        "to_dask_array", "to_delayed", "to_hdf", "to_json", "to_orc",
        "to_records", "to_sql", "to_timestamp", "visualize",
    })

    def combine_first(self, other: "Series") -> "Series":
        """reference Series.combine_first: self's values, nulls filled
        from ``other`` — coalesce when both ride the same parent frame
        (map-only); key-aligned frames go through the frame twin."""
        if isinstance(other, Series) and other._frame is self._frame:
            return self._tag_tz(Series(
                self._frame, F.coalesce(self._expr, other._expr), self._name
            ))
        raise ValueError(
            "combine_first across frames needs a key: use "
            "frame.combine_first(other_frame, on=...)"
        )

    def __getattr__(self, name: str):
        if name in Series._FRAME_DELEGATES:
            return getattr(self.to_frame(), name)
        raise AttributeError(f"'Series' object has no attribute {name!r}")

    def __dir__(self):
        return sorted(set(super().__dir__()) | Series._FRAME_DELEGATES)

    def value_counts(self, sort: bool = True, ascending: bool = False,
                     normalize: bool = False,
                     dropna: bool = True) -> "DaskFrame":
        # _skipna_expr: mid-plan NaN is missing like null (dropna
        # governs both, pandas semantics — r14 missing-value class)
        base = self._frame._sdf.select(
            self._skipna_expr().alias(self._name)
        )
        if dropna:
            # pandas default: missing values form no bucket (and don't
            # enter the normalize denominator)
            base = base.filter(F.col(self._name).isNotNull())
        out = base.groupBy(self._name).agg(
            F.count(F.lit(1)).alias("count")
        )
        if normalize:
            # One row per distinct value is UNBOUNDED for near-unique
            # columns, so no unpartitioned window here (it would funnel
            # the whole distinct set through one task at 100 TB).
            # Scalar total + broadcast instead; ReuseExchange dedupes
            # the groupBy shuffle, so this stays one source scan.
            tot = out.agg(F.sum("count").alias("__total"))
            out = (
                out.crossJoin(F.broadcast(tot))
                .withColumn("proportion", F.col("count") / F.col("__total"))
                .drop("count", "__total")
            )
            if sort:
                return DaskFrame(
                    out.orderBy(
                        F.col("proportion").asc() if ascending
                        else F.col("proportion").desc(),
                        F.col(self._name),
                    )
                )
            return DaskFrame(out)
        if sort:
            out = out.orderBy(
                F.col("count").asc() if ascending else F.col("count").desc(),
                F.col(self._name),
            )
        return DaskFrame(out)

    def unique(self) -> "DaskFrame":
        return DaskFrame(
            self._frame._sdf.select(self._expr.alias(self._name)).distinct()
        )

    # ---- frame-delegate parity (reference: _collection.py Series
    # methods that dask exposes directly on the column) ----------------
    def apply(self, fn, dtype: str = "string") -> "Series":
        """Elementwise apply == map for a Series (reference
        Series.apply)."""
        return self.map(fn, dtype)

    def corr(self, other: "Series") -> float:
        return self._frame._sdf.agg(
            F.corr(self._expr, other._expr)
        ).first()[0]

    def cov(self, other: "Series") -> float:
        return self._frame._sdf.agg(
            F.covar_samp(self._expr, other._expr)
        ).first()[0]

    def drop_duplicates(self) -> "DaskFrame":
        return self.to_frame().drop_duplicates()

    def dropna(self) -> "DaskFrame":
        return self.to_frame().dropna()

    def explode(self) -> "DaskFrame":
        return self.to_frame().explode(self._name)

    def groupby(self, by):
        """Group the PARENT frame by ``by`` (reference Series.groupby
        — dask also resolves the key against the parent collection)."""
        return self._frame.groupby(by)

    def mode(self) -> "DaskFrame":
        return self.to_frame().mode(self._name)

    def median_approximate(self, accuracy: int = 10000):
        return self.to_frame().median_approximate(self._name, accuracy)

    def memory_usage(self) -> int:
        return self.to_frame().memory_usage()

    @property
    def nbytes(self) -> int:
        return self.to_frame().memory_usage()

    @property
    def ndim(self) -> int:
        return 1

    @property
    def shape(self) -> tuple:
        return (self._frame._sdf.count(),)

    @property
    def axes(self) -> list:
        return [None]

    def squeeze(self) -> "Series":
        return self

    def to_string(self, n: int = 10) -> str:
        return self.to_frame().to_string(n)

    def add_prefix(self, prefix: str) -> "Series":
        return Series(self._frame, self._expr, f"{prefix}{self._name}")

    def add_suffix(self, suffix: str) -> "Series":
        return Series(self._frame, self._expr, f"{self._name}{suffix}")

    def compute(self, **kwargs):
        """Collect to a pandas Series (terminal action). Scheduler
        kwargs (``scheduler=``, ``num_workers=``…) are accepted and
        ignored — Spark's DAG scheduler is not selectable per call."""
        return self.to_frame().compute()[self._name]


_SPARK_DTYPES = {
    "int64": "bigint",
    "int32": "int",
    "int": "bigint",
    "float64": "double",
    "float32": "float",
    "float": "double",
    "str": "string",
    "object": "string",
    "bool": "boolean",
    "datetime64[ns]": "timestamp",
    "category": "string",
}


class DaskFrame:
    """Lazy partitioned frame; the PySpark re-expression of
    dask.dataframe.DataFrame (reference: dask_expr/_collection.py).

    ``col_tz`` is per-column timezone metadata: the zone tag of every
    tz-aware timestamp column (engine NTZ policy stores the UTC
    instant; the tag is what makes it aware — pandas keeps it in the
    dtype, Spark has no aware dtype, so the frame carries it). It is
    written by __setitem__/assign when an aware Series is stored,
    re-attached by __getitem__/__getattr__, and propagated through
    the row-preserving frame ops via _derive — so round-tripping an
    aware column through the frame cannot silently drop awareness."""

    def __init__(self, sdf: SparkDF, col_tz: dict | None = None):
        self._sdf = sdf
        self._col_tz = dict(col_tz) if col_tz else {}

    def _derive(self, sdf: SparkDF,
                written: "dict[str, str | None] | None" = None) -> "DaskFrame":
        """Child frame of a column-preserving transform: zone tags and
        the set_index marker survive for every column still present
        (dask keeps the index through filters/sorts too).

        ``written`` (r16, the r15 advice items) maps each column NAME
        the op wrote to the SOURCE column it was derived from (or
        None): a written name first DROPS any pre-existing tag — an
        op that overwrites an aware column with, say, a numeric
        cumsum must not leave the stale zone behind (consistent with
        __setitem__/assign/astype) — then INHERITS the source's tag
        when the source is tagged and the written column came out
        timestamp-typed (rolling/cum min/max/shift of an aware column
        stays aware, like pandas)."""
        cols = set(sdf.columns)
        tags = (
            {c: z for c, z in self._col_tz.items() if c in cols}
            if self._col_tz else {}
        )
        if written:
            from pyspark.sql.types import TimestampType

            for name, src in written.items():
                tags.pop(name, None)
                if src is None or name not in cols:
                    continue
                z = self._col_tz.get(src)
                if z is not None and isinstance(
                    sdf.schema[name].dataType, TimestampType
                ):
                    tags[name] = z
        out = DaskFrame(sdf, tags or None)
        idx = getattr(self, "_index_col", None)
        if idx is not None and idx in cols:
            out._index_col = idx
        return out

    # ---- basic introspection -----------------------------------------
    @property
    def columns(self) -> list[str]:
        return list(self._sdf.columns)

    @property
    def dtypes(self):
        return dict(self._sdf.dtypes)

    @property
    def npartitions(self) -> int:
        # rdd-free (Spark Connect-safe); see operators.sort.num_partitions
        from dask_spark.operators.sort import num_partitions

        return num_partitions(self._sdf)

    def explain(self, mode: str = "formatted"):
        return self._sdf.explain(mode)

    def __repr__(self):
        return f"<DaskFrame columns={self.columns}>"

    def __dir__(self):
        # columns are attribute-accessible, so they tab-complete
        # (reference: dask FrameBase.__dir__ merges column names)
        return sorted(set(super().__dir__()) | set(self._sdf.columns))

    def __contains__(self, key) -> bool:
        # pandas/dask: `"a" in df` is COLUMN membership
        return key in self._sdf.columns

    def __iter__(self):
        # pandas/dask: iterating a frame yields column names
        return iter(self._sdf.columns)

    def __bool__(self):
        raise TypeError(
            "The truth value of a DaskFrame is ambiguous — use "
            "len(df) > 0, or a reduction like .any()/.all() "
            "(pandas/dask raise here too)"
        )

    # ---- column access -----------------------------------------------
    def _series(self, name: str) -> "Series":
        out = Series(self, F.col(name), name)
        tz = self._col_tz.get(name)
        if tz is not None:
            out._tz = tz
        return out

    def __getitem__(self, key):
        if isinstance(key, str):
            return self._series(key)
        if isinstance(key, Series):  # boolean mask
            return self._derive(self._sdf.filter(key._expr))
        if isinstance(key, (list, tuple)):
            return self._derive(self._sdf.select(*key))
        raise TypeError(f"unsupported key {key!r}")

    def __getattr__(self, name: str):
        if name.startswith("_"):
            raise AttributeError(name)
        if name in self._sdf.columns:
            return self._series(name)
        raise AttributeError(name)

    def __setitem__(self, name: str, value):
        self._sdf = self._sdf.withColumn(name, _col(value))
        # persist awareness: storing an aware Series tags the column;
        # overwriting with anything naive clears a stale tag
        tz = getattr(value, "_tz", None)
        if tz is not None:
            self._col_tz[name] = tz
        else:
            self._col_tz.pop(name, None)

    @property
    def iloc(self):
        """dask iloc: COLUMN-positional only (`df.iloc[:, [0, 2]]`) —
        rows have no stable position in a partitioned frame (reference:
        _collection.py iloc raises on row slicing too)."""
        return _ILoc(self)

    @property
    def loc(self):
        """Minimal loc: boolean-mask rows and/or column list —
        `df.loc[mask]`, `df.loc[:, ["a", "b"]]`, `df.loc[mask, cols]`."""
        return _Loc(self)

    # ---- projection / mutation ----------------------------------------
    def assign(self, **kwargs) -> "DaskFrame":
        sdf = self._sdf
        col_tz = dict(self._col_tz)
        for name, value in kwargs.items():
            if callable(value) and not isinstance(value, (Series, Column)):
                value = value(DaskFrame(sdf, col_tz))
            sdf = sdf.withColumn(name, _col(value))
            tz = getattr(value, "_tz", None)
            if tz is not None:
                col_tz[name] = tz
            else:
                col_tz.pop(name, None)
        return DaskFrame(sdf, col_tz)

    def drop(self, columns: str | Sequence[str]) -> "DaskFrame":
        cols = [columns] if isinstance(columns, str) else list(columns)
        return self._derive(self._sdf.drop(*cols))

    def rename(self, columns: Mapping[str, str]) -> "DaskFrame":
        sdf = self._sdf
        col_tz = dict(self._col_tz)
        for old, new in columns.items():
            sdf = sdf.withColumnRenamed(old, new)
            if old in col_tz:
                col_tz[new] = col_tz.pop(old)
        return DaskFrame(sdf, col_tz)

    def astype(self, dtypes: Mapping[str, str]) -> "DaskFrame":
        sdf = self._sdf
        col_tz = dict(self._col_tz)
        for c, dt in dtypes.items():
            sdf = sdf.withColumn(c, F.col(c).cast(_SPARK_DTYPES.get(dt, dt)))
            col_tz.pop(c, None)  # recast column is no longer tagged
        return DaskFrame(sdf, col_tz)

    # ---- filtering -----------------------------------------------------
    def query(self, expr: str) -> "DaskFrame":
        return self._derive(self._sdf.filter(expr))

    def filter(self, cond: "Series | str") -> "DaskFrame":
        return self._derive(self._sdf.filter(_col(cond) if isinstance(cond, Series) else cond))

    def isin_filter(self, column: str, values: Iterable) -> "DaskFrame":
        return self._derive(self._sdf.filter(F.col(column).isin(list(values))))

    # ---- NA handling -----------------------------------------------------
    def fillna(self, value) -> "DaskFrame":
        return self._derive(self._sdf.fillna(value))

    def dropna(self, subset: Sequence[str] | None = None, how: str = "any",
               thresh: int | None = None) -> "DaskFrame":
        """pandas semantics incl. ``thresh`` (keep rows with ≥ thresh
        non-null values) — Spark dropna supports it natively."""
        if thresh is not None:
            return self._derive(self._sdf.dropna(thresh=thresh, subset=subset))
        return self._derive(self._sdf.dropna(how=how, subset=subset))

    def replace(self, to_replace, value) -> "DaskFrame":
        return self._derive(self._sdf.replace(to_replace, value))

    # ---- dedup / sorting -------------------------------------------------
    def drop_duplicates(self, subset: Sequence[str] | None = None, keep: str = "any") -> "DaskFrame":
        from dask_spark.operators.dedup import drop_duplicates

        return drop_duplicates(self, subset=subset, keep=keep)

    def sort_values(self, by: str | Sequence[str],
                    ascending: bool | Sequence[bool] = True,
                    na_position: str = "last") -> "DaskFrame":
        """pandas/dask sort_values (reference dask_expr/_collection.py
        sort_values): nulls go LAST by default in BOTH directions —
        Spark's bare asc() is nulls-first, so the null placement must
        be pinned explicitly or ascending sorts diverge from pandas.
        Float NaN is MISSING too (pandas na_position governs it; Spark
        instead orders NaN greatest, putting it FIRST in a descending
        sort) — float sort keys ride through nanvl so NaN follows the
        same placement as null (r14 missing-semantics class)."""
        if na_position not in ("first", "last"):
            raise ValueError("na_position must be 'first' or 'last'")
        by = [by] if isinstance(by, str) else list(by)
        asc = [ascending] * len(by) if isinstance(ascending, bool) else list(ascending)
        last = na_position == "last"
        dt = dict(self._sdf.dtypes)

        def key(c):
            if dt.get(c) in ("float", "double"):
                return F.nanvl(F.col(c), F.lit(None).cast(dt[c]))
            return F.col(c)

        cols = [
            (key(c).asc_nulls_last() if last else key(c).asc_nulls_first())
            if a else
            (key(c).desc_nulls_last() if last else key(c).desc_nulls_first())
            for c, a in zip(by, asc)
        ]
        return self._derive(self._sdf.orderBy(*cols))

    def nlargest(self, n: int, columns: str | Sequence[str]) -> "DaskFrame":
        return self.sort_values(columns, ascending=False).head_frame(n)

    def nsmallest(self, n: int, columns: str | Sequence[str]) -> "DaskFrame":
        return self.sort_values(columns, ascending=True).head_frame(n)

    def set_index(self, col: str, npartitions: int | None = None) -> "DaskFrame":
        from dask_spark.operators.sort import set_index

        return set_index(self, col, npartitions)

    def repartition(self, npartitions: int | None = None, on: Sequence[str] | None = None,
                    partition_size: str | int | None = None) -> "DaskFrame":
        """dask repartition: by count, by key columns, or by target
        partition byte size ("128MB") — the last derives a count from
        Catalyst's size estimate (dask uses the same estimate-then-
        coalesce strategy)."""
        from dask_spark.operators.sort import repartition

        if partition_size is not None:
            from dask_spark.plans import estimated_size_bytes

            if isinstance(partition_size, str):
                units = {"kb": 1 << 10, "mb": 1 << 20, "gb": 1 << 30, "b": 1}
                s = partition_size.strip().lower()
                for suffix, mult in units.items():
                    if s.endswith(suffix):
                        target = int(float(s[: -len(suffix)]) * mult)
                        break
                else:
                    target = int(s)
            else:
                target = int(partition_size)
            est = max(estimated_size_bytes(self), 1)
            npartitions = max(1, -(-est // target))
        return repartition(self, npartitions, on)

    def shuffle(self, on: str | Sequence[str], npartitions: int | None = None) -> "DaskFrame":
        on = [on] if isinstance(on, str) else list(on)
        return self.repartition(npartitions, on=on)

    # ---- sampling / limits -------------------------------------------------
    def head_frame(self, n: int = 5) -> "DaskFrame":
        return self._derive(self._sdf.limit(n))

    def tail(self, n: int = 5):
        """Last n rows (driver-side action, like dask tail on the last
        partition — row order is partition order)."""
        import pandas as pd

        rows = self._sdf.tail(n)
        return pd.DataFrame([r.asDict() for r in rows])

    def head(self, n: int = 5):
        return self._sdf.limit(n).toPandas()

    def sample(self, frac: float, random_state: int = 42,
               replace: bool = False) -> "DaskFrame":
        return DaskFrame(
            self._sdf.sample(withReplacement=replace, fraction=frac,
                             seed=random_state)
        )

    def nunique(self) -> "DaskFrame":
        """Per-column distinct counts in one pass (dask
        DataFrame.nunique; one agg over every column)."""
        return DaskFrame(
            self._sdf.agg(
                *[F.countDistinct(F.col(c)).alias(c) for c in self.columns]
            )
        )

    # ---- reductions (frame-level, lazy one-row frame) -----------------------
    def _numeric_cols(self) -> list[str]:
        num = {"int", "bigint", "smallint", "tinyint", "double", "float", "decimal"}
        return [c for c, t in self._sdf.dtypes if t.split("(")[0] in num]

    def _agg_all(self, fn: Callable[[Column], Column]) -> "DaskFrame":
        """Per-column reduction over the numeric columns. Float inputs
        get pandas skipna semantics (NaN == missing, incl. mid-plan
        NaN — see Series._skipna_expr); int columns pass through so
        sums keep integer dtype."""
        dt = dict(self._sdf.dtypes)
        cols = self._numeric_cols()

        def src(c):
            if dt[c] in ("float", "double"):
                return F.nanvl(F.col(c), F.lit(None).cast(dt[c]))
            return F.col(c)

        return DaskFrame(self._sdf.agg(*[fn(src(c)).alias(c) for c in cols]))

    def _rowwise(self, kind: str) -> "Series":
        """axis=1 reductions (reference: dask frame reductions take
        axis=1): per-row over the numeric columns — PURE EXPRESSIONS,
        map-only, whole-stage codegen (the embarrassingly-parallel
        case). pandas skipna=True semantics: nulls drop out per row;
        an all-null row sums to 0.0 (min_count=0), means/vars go
        null; std/var are the ddof=1 sample forms like pandas.
        count(axis=1) counts non-null cells across ALL columns
        (pandas does — not just numeric); sum/min/max keep integer
        dtype when every numeric column is integral (pandas int64
        row sums are ints)."""
        from functools import reduce as _reduce
        from operator import add as _add

        if kind == "count":
            # pandas counts every non-missing cell in the row, any
            # dtype — float NaN is missing (skipna)
            dt_all = dict(self._sdf.dtypes)
            n_all = _reduce(_add, [
                ((F.col(c).isNotNull() & ~F.isnan(F.col(c)))
                 if dt_all[c] in ("float", "double")
                 else F.col(c).isNotNull()).cast("int")
                for c in self._sdf.columns
            ])
            return Series(self, n_all.cast("bigint"), kind)

        cols = self._numeric_cols()
        if not cols:
            raise ValueError("axis=1 reduction needs numeric columns")
        ints = ("tinyint", "smallint", "int", "bigint")
        dt = dict(self._sdf.dtypes)
        integral = all(dt[c] in ints for c in cols)
        num_t = "bigint" if integral and kind in ("sum", "min", "max") \
            else "double"
        # float sources: NaN == missing per row (pandas skipna; NaN
        # would otherwise poison the row sum and win min/max)
        vals = [
            (F.nanvl(F.col(c), F.lit(None).cast(dt[c]))
             if dt[c] in ("float", "double") else F.col(c)).cast(num_t)
            for c in cols
        ]
        n = _reduce(_add, [v.isNotNull().cast("int") for v in vals])
        zero = F.lit(0).cast(num_t)
        s = _reduce(_add, [F.coalesce(v, zero) for v in vals])
        if kind == "sum":
            expr = s
        elif kind == "mean":
            expr = F.when(n > 0, s / n)
        elif kind == "min":
            expr = vals[0] if len(vals) == 1 else F.least(*vals)
        elif kind == "max":
            expr = vals[0] if len(vals) == 1 else F.greatest(*vals)
        elif kind in ("var", "std"):
            m = F.when(n > 0, s / n)
            dev = _reduce(_add, [
                F.coalesce((v - m) * (v - m), F.lit(0.0)) for v in vals
            ])
            var = F.when(n > 1, dev / (n - 1))
            expr = F.sqrt(var) if kind == "std" else var
        else:  # pragma: no cover — internal misuse
            raise ValueError(kind)
        return Series(self, expr, kind)

    @staticmethod
    def _is_rowwise(axis) -> bool:
        if axis in (1, "columns"):
            return True
        if axis in (0, None, "index"):
            return False
        raise ValueError(f"axis must be 0 or 1, got {axis!r}")

    def sum(self, axis: int = 0):
        if self._is_rowwise(axis):
            return self._rowwise("sum")
        # pandas min_count=0 per column (empty/all-missing -> 0)
        return self._agg_all(
            lambda e: F.coalesce(F.sum(e), F.lit(0))
        )

    def mean(self, axis: int = 0):
        if self._is_rowwise(axis):
            return self._rowwise("mean")
        return self._agg_all(lambda e: F.avg(e))

    def min(self, axis: int = 0):
        if self._is_rowwise(axis):
            return self._rowwise("min")
        return self._agg_all(lambda e: F.min(e))

    def max(self, axis: int = 0):
        if self._is_rowwise(axis):
            return self._rowwise("max")
        return self._agg_all(lambda e: F.max(e))

    def std(self, axis: int = 0):
        if self._is_rowwise(axis):
            return self._rowwise("std")
        return self._agg_all(lambda e: F.stddev_samp(e))

    def var(self, axis: int = 0):
        if self._is_rowwise(axis):
            return self._rowwise("var")
        return self._agg_all(lambda e: F.var_samp(e))

    def count(self, axis: int = 0):
        if self._is_rowwise(axis):
            return self._rowwise("count")
        return self._agg_all(lambda e: F.count(e))

    def describe(self, percentiles=None) -> "DaskFrame":
        """Long-form describe: one row per numeric column."""
        from dask_spark.operators.reductions import describe

        return describe(self, percentiles)

    def quantile(self, q=0.5):
        """Per-numeric-column quantiles in one sketch pass. A LIST of
        levels returns an eager pandas frame indexed by level (dask's
        DataFrame-of-quantiles shape); a scalar stays a lazy one-row
        frame."""
        cols = self._numeric_cols()
        if isinstance(q, (list, tuple)):
            import pandas as pd

            levels = [float(x) for x in q]
            row = self._sdf.agg(
                *[
                    F.percentile_approx(F.col(c), levels).alias(c)
                    for c in cols
                ]
            ).first()
            return pd.DataFrame(
                {c: list(row[c]) for c in cols}, index=levels
            )
        return DaskFrame(
            self._sdf.agg(
                *[F.percentile_approx(F.col(c), q).alias(c) for c in cols]
            )
        )

    def corr(self, c1: str, c2: str) -> float:
        return self._sdf.agg(F.corr(c1, c2).alias("v")).first()["v"]

    def cov(self, c1: str, c2: str) -> float:
        return self._sdf.agg(F.covar_samp(c1, c2).alias("v")).first()["v"]

    def _pairwise_matrix(self, agg, cols: Sequence[str] | None) -> "DaskFrame":
        """All-pairs statistic in ONE aggregate pass: k*(k+1)/2 agg
        expressions (symmetric pairs computed once, mirrored in a
        post-projection), emitted long-form (col_x, col_y, value) —
        the k² matrix never touches the driver and the input is
        scanned exactly once."""
        cols = list(cols) if cols else self._numeric_cols()
        exprs = []
        for i, a in enumerate(cols):
            for b in cols[i:]:
                exprs.append(agg(a, b).alias(f"__{a}__{b}"))
        wide = self._sdf.agg(*exprs)
        structs = []
        for i, a in enumerate(cols):
            for b in cols[i:]:
                v = F.col(f"__{a}__{b}")
                structs.append(F.struct(F.lit(a).alias("col_x"),
                                        F.lit(b).alias("col_y"),
                                        v.alias("value")))
                if a != b:
                    structs.append(F.struct(F.lit(b).alias("col_x"),
                                            F.lit(a).alias("col_y"),
                                            v.alias("value")))
        long = wide.select(F.explode(F.array(*structs)).alias("s")).select(
            "s.col_x", "s.col_y", "s.value"
        )
        return DaskFrame(long)

    def corr_matrix(self, cols: Sequence[str] | None = None) -> "DaskFrame":
        """Pairwise Pearson correlation of the numeric columns, long
        form (reference: dask/dataframe/dask_expr/_collection.py:4042
        DataFrame.corr — dask builds the k×k matrix from one
        sum/sum²/cross-product ACA pass; F.corr aggregates are the same
        single pass here)."""
        return self._pairwise_matrix(lambda a, b: F.corr(a, b), cols)

    def cov_matrix(self, cols: Sequence[str] | None = None) -> "DaskFrame":
        """Pairwise sample covariance, long form (reference:
        _collection.py:4565 DataFrame.cov)."""
        return self._pairwise_matrix(lambda a, b: F.covar_samp(a, b), cols)

    def is_monotonic_increasing(self, col: str, order_by: str) -> bool:
        """Is ``col`` non-decreasing when rows are ordered by
        ``order_by``? (reference: dask_expr/_collection.py:4624 —
        dask checks per partition then the partition boundaries; here
        one keyless lag-window over the range-bucketed order — never
        single-partition — feeds a bool min.) ``order_by`` is explicit
        because this engine has no implicit row index (dask checks
        along the index)."""
        return self._is_monotonic(col, order_by, increasing=True)

    def is_monotonic_decreasing(self, col: str, order_by: str) -> bool:
        """reference: dask_expr/_collection.py:4629."""
        return self._is_monotonic(col, order_by, increasing=False)

    def _is_monotonic(self, col: str, order_by: str, increasing: bool) -> bool:
        from dask_spark.operators.window import shift

        shifted = shift(self, col, periods=1, order_by=order_by, out="__prev")
        cur, prev = F.col(col), F.col("__prev")
        ok = (prev <= cur) if increasing else (prev >= cur)
        # a null in the checked column itself is non-monotonic (pandas
        # returns False when NaNs are present); a null prev is just the
        # first row
        row = shifted._sdf.agg(
            F.min(
                F.when(cur.isNull(), False)
                .when(prev.isNull(), True)
                .otherwise(ok)
            ).alias("v")
        ).first()
        return bool(row["v"]) if row["v"] is not None else True

    def __len__(self) -> int:
        return self._sdf.count()

    # ---- extended dask parity (reference: dask_expr/_collection.py:
    # add_prefix/add_suffix/round/select_dtypes/any/all/prod/skew/
    # kurtosis/sem/mode/eval/pipe/ffill/bfill/pct_change/cum*/
    # combine_first/case_when/random_split) --------------------------------
    def add_prefix(self, prefix: str) -> "DaskFrame":
        return self.rename({c: prefix + c for c in self.columns})

    def add_suffix(self, suffix: str) -> "DaskFrame":
        return self.rename({c: c + suffix for c in self.columns})

    def round(self, decimals: int | Mapping[str, int] = 0) -> "DaskFrame":
        spec = (
            {c: decimals for c in self._numeric_cols()}
            if isinstance(decimals, int)
            else dict(decimals)
        )
        sdf = self._sdf
        for c, n in spec.items():
            sdf = sdf.withColumn(c, F.round(F.col(c), n))
        return DaskFrame(sdf)

    def select_dtypes(self, include: str | Sequence[str]) -> "DaskFrame":
        """include: spark type names or the shorthand "number"."""
        kinds = [include] if isinstance(include, str) else list(include)
        num = {"int", "bigint", "smallint", "tinyint", "double", "float",
               "decimal"}
        want = set()
        for k in kinds:
            want |= num if k == "number" else {k}
        cols = [
            c for c, t in self._sdf.dtypes
            if t in want or t.split("(")[0] in want
        ]
        return DaskFrame(self._sdf.select(*cols))

    def _rowwise_bool(self, kind: str) -> "Series":
        """axis=1 any/all over the boolean columns — map-only
        expressions; pandas skipna: null counts False for any, True
        for all."""
        from functools import reduce as _reduce

        cols = [c for c, t in self._sdf.dtypes if t == "boolean"]
        if not cols:
            # pandas over an empty axis: any → False, all → True
            return Series(self, F.lit(kind == "all"), kind)
        if kind == "any":
            expr = _reduce(
                lambda a, b: a | b,
                [F.coalesce(F.col(c), F.lit(False)) for c in cols],
            )
        else:
            expr = _reduce(
                lambda a, b: a & b,
                [F.coalesce(F.col(c), F.lit(True)) for c in cols],
            )
        return Series(self, expr, kind)

    def any(self, axis: int = 0):
        """Per-column ANY over boolean columns (one row); axis=1 =
        per-row OR."""
        if self._is_rowwise(axis):
            return self._rowwise_bool("any")
        cols = [c for c, t in self._sdf.dtypes if t == "boolean"]
        return DaskFrame(
            self._sdf.agg(*[F.max(F.col(c)).alias(c) for c in cols])
        )

    def all(self, axis: int = 0):
        if self._is_rowwise(axis):
            return self._rowwise_bool("all")
        cols = [c for c, t in self._sdf.dtypes if t == "boolean"]
        return DaskFrame(
            self._sdf.agg(*[F.min(F.col(c)).alias(c) for c in cols])
        )

    def prod(self) -> "DaskFrame":
        # pandas skipna: mid-plan NaN is missing, not a product poison,
        # so route through the same nanvl source as _agg_all; the
        # coalesce then supplies the min_count=0 identity (1.0) for
        # empty/all-missing columns (r15 ADVICE fix).
        dt = dict(self._sdf.dtypes)

        def src(c):
            if dt[c] in ("float", "double"):
                return F.nanvl(F.col(c), F.lit(None).cast(dt[c]))
            return F.col(c)

        return DaskFrame(
            self._sdf.agg(*[
                F.coalesce(F.product(src(c)), F.lit(1.0)).alias(c)
                for c in self._numeric_cols()
            ])
        )

    def skew(self) -> "DaskFrame":
        """Population skewness g1 (Spark's definition) per numeric col."""
        return self._agg_all(lambda e: F.skewness(e))

    def kurtosis(self) -> "DaskFrame":
        """Population excess kurtosis (Spark's definition)."""
        return self._agg_all(lambda e: F.kurtosis(e))

    def sem(self) -> "DaskFrame":
        """Standard error of the mean: stddev_samp / sqrt(n)."""
        return self._agg_all(
            lambda e: F.stddev_samp(e) / F.sqrt(F.count(e))
        )

    def mode(self, column: str | None = None, dropna: bool = True,
             keep_ties: bool = True) -> "DaskFrame":
        """pandas/dask mode. With ``column``: ALL tied most-frequent
        values of that column, sorted ascending (pandas Series.mode —
        one count shuffle, the max count broadcast back; keep_ties=
        False keeps the pre-round-9 single-winner form, smallest value
        on ties). Without ``column`` (reference dask_expr
        _collection.py:3670): per-column modes assembled side by side,
        shorter columns null-padded to the longest — each column is
        one bounded driver collect of its tied values (#ties ≪ rows).
        ``dropna=False`` lets null count as a value (pandas
        contract)."""
        if column is not None:
            counts = self._sdf
            if dropna:
                counts = counts.filter(F.col(column).isNotNull())
            counts = counts.groupBy(column).agg(
                F.count(F.lit(1)).alias("__n")
            )
            if not keep_ties:
                return DaskFrame(
                    counts.orderBy(F.col("__n").desc(),
                                   F.col(column).asc_nulls_last())
                    .limit(1).select(column)
                )
            mx = counts.agg(F.max("__n").alias("__mx"))
            # nulls LAST: pandas places the NaN mode after every value
            # (Spark's bare asc() is nulls-first)
            return DaskFrame(
                counts.crossJoin(F.broadcast(mx))
                .filter(F.col("__n") == F.col("__mx"))
                .select(column)
                .orderBy(F.col(column).asc_nulls_last())
            )
        import pandas as pd
        from pyspark.sql import types as T

        per = {
            c: self.mode(c, dropna=dropna, keep_ties=keep_ties)
            .compute()[c].tolist()
            for c in self.columns
        }
        width = max((len(v) for v in per.values()), default=0)
        pdf = pd.DataFrame({
            c: v + [None] * (width - len(v)) for c, v in per.items()
        })
        # null-padding must be legal: same names/types, nullable=True
        schema = T.StructType([
            T.StructField(f.name, f.dataType, True)
            for f in self._sdf.schema.fields
        ])
        spark = self._sdf.sparkSession
        out = spark.createDataFrame(pdf, schema=schema) \
            if width else spark.createDataFrame([], schema)
        return DaskFrame(out)

    def idxmin(self, value_col: str, id_col: str):
        """id at the minimum of value_col (dask idxmin ≈ min_by)."""
        return self._sdf.agg(F.min_by(id_col, value_col)).first()[0]

    def idxmax(self, value_col: str, id_col: str):
        return self._sdf.agg(F.max_by(id_col, value_col)).first()[0]

    def eval(self, expr: str) -> "DaskFrame | Series":
        """pandas.eval-style: ``"c = a + b"`` adds column c; a bare
        expression returns a Series. SQL expression syntax (Catalyst)."""
        import re

        m = re.match(r"^\s*(\w+)\s*=(?!=)(.*)$", expr, re.S)
        if m:
            return DaskFrame(
                self._sdf.withColumn(m.group(1), F.expr(m.group(2).strip()))
            )
        return Series(self, F.expr(expr), expr)

    def pipe(self, fn: Callable, *args, **kwargs):
        return fn(self, *args, **kwargs)

    def ffill(self, cols: str | Sequence[str], order_by: str,
              by: str | Sequence[str] | None = None) -> "DaskFrame":
        """Forward-fill nulls in ``cols`` along ``order_by`` (within
        ``by`` groups): window ``last(ignorenulls)`` — the declarative
        twin of dask's map_overlap ffill; one sort-shuffle on the
        group key. Keyless goes through the two-pass cross-bucket
        carry (never a single-partition window)."""
        from dask_spark.operators.window import fill_directional

        return fill_directional(self, cols, order_by, by, "ffill")

    def bfill(self, cols: str | Sequence[str], order_by: str,
              by: str | Sequence[str] | None = None) -> "DaskFrame":
        from dask_spark.operators.window import fill_directional

        return fill_directional(self, cols, order_by, by, "bfill")

    def pct_change(self, col: str, periods: int = 1, order_by: str | None = None,
                   by: str | Sequence[str] | None = None,
                   out: str | None = None) -> "DaskFrame":
        """(x - x.shift(periods)) / x.shift(periods) via lag window;
        keyless rides the halo-shipped keyless shift."""
        from pyspark.sql import Window

        from dask_spark.operators.window import shift as _shift

        name = out or f"{col}_pct_change"
        by = [] if by is None else ([by] if isinstance(by, str) else list(by))
        if not by:
            shifted = _shift(self, col, periods=periods,
                             order_by=order_by or col, out="__prev")
            prev = F.col("__prev")
            return self._derive(
                shifted._sdf.withColumn(name, (F.col(col) - prev) / prev)
                .drop("__prev"),
                {name: None},
            )
        w = Window.partitionBy(*by).orderBy(order_by or col)
        prev = F.lag(col, periods).over(w)
        return self._derive(
            self._sdf.withColumn(name, (F.col(col) - prev) / prev),
            {name: None},
        )

    def _cum(self, fn: str, col: str, order_by: str, by=None, out=None):
        from dask_spark.operators.window import cumulative

        return cumulative(self, col, fn, order_by=order_by, by=by, out=out)

    def cumsum(self, col: str, order_by: str, by=None, out=None):
        return self._cum("sum", col, order_by, by, out)

    def cummax(self, col: str, order_by: str, by=None, out=None):
        return self._cum("max", col, order_by, by, out)

    def cummin(self, col: str, order_by: str, by=None, out=None):
        return self._cum("min", col, order_by, by, out)

    def cumprod(self, col: str, order_by: str, by=None, out=None):
        return self._cum("prod", col, order_by, by, out)

    def shift(self, col: str, periods: int = 1, order_by: str | None = None,
              by=None, out=None) -> "DaskFrame":
        from dask_spark.operators.window import shift

        return shift(self, col, periods, order_by=order_by, by=by, out=out)

    def diff(self, col: str, periods: int = 1, order_by: str | None = None,
             by=None, out=None) -> "DaskFrame":
        from dask_spark.operators.window import diff

        return diff(self, col, periods, order_by=order_by, by=by, out=out)

    def combine_first(self, other: "DaskFrame", on: str | Sequence[str]) -> "DaskFrame":
        """Fill this frame's nulls with ``other``'s values, aligned on
        key (reference: _collection.py combine_first — index-aligned
        coalesce). Full outer join on the key, COALESCE per column; one
        co-partitioned shuffle."""
        keys = [on] if isinstance(on, str) else list(on)
        lsdf, rsdf = self._sdf, other._sdf
        shared = [c for c in lsdf.columns if c in rsdf.columns and c not in keys]
        r = rsdf
        for c in shared:
            r = r.withColumnRenamed(c, f"__r_{c}")
        j = lsdf.join(r, on=keys, how="full_outer")
        out_cols = keys + [
            F.coalesce(F.col(c), F.col(f"__r_{c}")).alias(c) if c in shared
            else F.col(c)
            for c in lsdf.columns if c not in keys
        ] + [F.col(f"__r_{c}").alias(c) for c in rsdf.columns
         if c not in keys and c not in shared]
        return DaskFrame(j.select(*out_cols))

    def case_when(self, name: str, cases: Sequence[tuple], default=None) -> "DaskFrame":
        """pandas 2.2 case_when: ``cases`` is [(cond Series, value), ...]
        lowered to one chained CASE WHEN expression."""
        expr = None
        for cond, value in cases:
            c = _col(cond)
            v = value._expr if isinstance(value, Series) else F.lit(value)
            expr = F.when(c, v) if expr is None else expr.when(c, v)
        expr = expr.otherwise(
            default._expr if isinstance(default, Series) else F.lit(default)
        )
        return DaskFrame(self._sdf.withColumn(name, expr))

    def random_split(self, weights: Sequence[float], seed: int = 42) -> list["DaskFrame"]:
        return [self._derive(s) for s in self._sdf.randomSplit(list(weights), seed)]

    def align(self, other: "DaskFrame", on: str | Sequence[str],
              join: str = "outer") -> tuple["DaskFrame", "DaskFrame"]:
        """Key-aligned pair of frames (reference: _collection.py align —
        index alignment): both outputs carry the ``join`` of the key
        sets, null-padded where a side lacks the key. One co-partitioned
        shuffle to build the key set, broadcast/shuffle joins back."""
        keys = [on] if isinstance(on, str) else list(on)
        lk = self._sdf.select(*keys)
        rk = other._sdf.select(*keys)
        if join == "outer":
            keyset = lk.union(rk).distinct()
        elif join == "inner":
            keyset = lk.intersect(rk)
        elif join == "left":
            keyset = lk.distinct()
        elif join == "right":
            keyset = rk.distinct()
        else:
            raise ValueError(f"bad join {join!r}")
        return (
            self._derive(keyset.join(self._sdf, on=keys, how="left")),
            other._derive(keyset.join(other._sdf, on=keys, how="left")),
        )

    def memory_usage(self) -> int:
        """Optimizer-estimated size in bytes (reference:
        _collection.py memory_usage; here from Catalyst plan stats —
        exact per-partition accounting needs an action)."""
        from dask_spark.plans import estimated_size_bytes

        return estimated_size_bytes(self)

    # ---- misc parity (reference _collection.py: copy/reset_index/
    # squeeze/pop/get_partition/itertuples/info/nbytes/where/mask) ---------
    def copy(self) -> "DaskFrame":
        return self._derive(self._sdf)  # plans are immutable — free copy

    def reset_index(self, drop: bool = True) -> "DaskFrame":
        return self  # no materialized index; alignment is by key columns

    def rename_axis(self, *a, **kw) -> "DaskFrame":
        return self

    def squeeze(self):
        cols = self.columns
        return self[cols[0]] if len(cols) == 1 else self

    def pop(self, column: str) -> "Series":
        s = Series(self._derive(self._sdf), F.col(column), column)
        tz = self._col_tz.get(column)
        if tz is not None:
            s._tz = tz
        self._sdf = self._sdf.drop(column)
        self._col_tz.pop(column, None)
        return s

    def get_partition(self, i: int) -> "DaskFrame":
        """Rows of partition ``i`` (dask get_partition) — a distributed
        filter on spark_partition_id, not a collect."""
        return self._derive(self._sdf.withColumn("__pid", F.spark_partition_id())
                            .filter(F.col("__pid") == i).drop("__pid"))

    def itertuples(self):
        """Streaming row iterator (toLocalIterator — one partition in
        driver memory at a time, unlike a full collect)."""
        return self._sdf.toLocalIterator()

    def items(self):
        for c in self.columns:
            yield c, self[c]

    def info(self) -> str:
        lines = [f"<DaskFrame: {len(self.columns)} columns, "
                 f"{self.npartitions} partitions>"]
        lines += [f"  {c}: {t}" for c, t in self._sdf.dtypes]
        lines.append(f"  est. size: {self.memory_usage()} bytes")
        return "\n".join(lines)

    @property
    def nbytes(self) -> int:
        return self.memory_usage()

    def where_frame(self, cond: "Series", other=None) -> "DaskFrame":
        """Frame-level where: rows failing ``cond`` get every column
        replaced by ``other`` (pandas df.where semantics). ONE select —
        sequential withColumn would re-resolve ``cond`` against
        already-replaced columns (a row masked on column a flips the
        condition for column b; surfaced by mask())."""
        c = _col(cond)
        dt = dict(self._sdf.dtypes)
        return self._derive(self._sdf.select(*[
            F.when(c, F.col(n)).otherwise(F.lit(other).cast(dt[n])).alias(n)
            for n in self._sdf.columns
        ]))

    def where(self, cond: "Series", other=None) -> "DaskFrame":
        """pandas/dask df.where (reference _collection.py where)."""
        return self.where_frame(cond, other)

    def mask(self, cond: "Series", other=None) -> "DaskFrame":
        """df.mask == where(~cond) (reference _collection.py mask)."""
        return self.where_frame(~cond, other)

    def _map_numeric(self, build) -> "DaskFrame":
        out = [
            build(F.col(c)).alias(c) if c in set(self._numeric_cols())
            else F.col(c)
            for c in self._sdf.columns
        ]
        return self._derive(self._sdf.select(*out))

    def clip(self, lower=None, upper=None) -> "DaskFrame":
        """Frame-level clip over numeric columns (reference
        _collection.py clip)."""
        def build(c):
            if lower is not None:
                c = F.greatest(c, F.lit(lower))
            if upper is not None:
                c = F.least(c, F.lit(upper))
            return c

        return self._map_numeric(build)

    def abs(self) -> "DaskFrame":
        return self._map_numeric(F.abs)

    def isin(self, values: Iterable) -> "DaskFrame":
        """pandas df.isin — a boolean frame, every ATOMIC column
        tested against the literal list; array/struct/map/binary
        columns are False like pandas' non-comparable cells (an IN
        over an array column is an AnalysisException, and frames
        here routinely carry embedding/token columns)."""
        vals = list(values)
        num = ("tinyint", "smallint", "int", "bigint", "float",
               "double", "decimal")

        def usable(t: str):
            """Type-compatible literals only — pandas lets an int list
            probe a string column (nothing matches); Spark's IN would
            instead raise a malformed-cast error mid-job."""
            if t.startswith(("array", "struct", "map", "binary")):
                return []
            if t.startswith(num):
                return [v for v in vals
                        if isinstance(v, (int, float)) and not
                        isinstance(v, bool)]
            if t == "string":
                return [v for v in vals if isinstance(v, str)]
            if t == "boolean":
                return [v for v in vals if isinstance(v, bool)]
            return vals

        use = {c: usable(t) for c, t in self._sdf.dtypes}
        return DaskFrame(self._sdf.select(*[
            (F.col(c).isin(*use[c]) if use[c] else F.lit(False)).alias(c)
            for c in self._sdf.columns
        ]))

    def map(self, fn, na_action: str | None = None) -> "DaskFrame":
        """pandas df.map (elementwise over every cell, reference
        _collection.py map) — one Arrow pass, pandas' own map inside."""
        import pandas as pd  # noqa: F401

        schema = self._sdf.schema

        def run(it):
            for pdf in it:
                mapped = pdf.map(fn, na_action=na_action) if hasattr(
                    pdf, "map"
                ) else pdf.applymap(fn)
                yield mapped

        return DaskFrame(self._sdf.mapInPandas(run, schema))

    def median(self) -> "DaskFrame":
        """Per-numeric-column exact median (reference _collection.py
        median; dask computes it per column too)."""
        return self._agg_all(lambda e: F.median(e))

    def nunique_approx(self, rsd: float = 0.01) -> "DaskFrame":
        """Per-column HLL distinct estimate (reference
        nunique_approx)."""
        return DaskFrame(self._sdf.agg(*[
            F.approx_count_distinct(c, rsd).alias(c)
            for c in self._sdf.columns
        ]))

    def _cmp_frame(self, other, op) -> "DaskFrame":
        return DaskFrame(self._sdf.select(*[
            op(F.col(c), F.lit(other)).alias(c)
            for c in self._numeric_cols()
        ]))

    def ge(self, other) -> "DaskFrame":
        return self._cmp_frame(other, lambda a, b: a >= b)

    def gt(self, other) -> "DaskFrame":
        return self._cmp_frame(other, lambda a, b: a > b)

    def le(self, other) -> "DaskFrame":
        return self._cmp_frame(other, lambda a, b: a <= b)

    def lt(self, other) -> "DaskFrame":
        return self._cmp_frame(other, lambda a, b: a < b)

    def combine(self, other: "DaskFrame", func, on) -> "DaskFrame":
        """pandas df.combine aligned on a key (reference
        _collection.py combine): join on ``on``, then ``func(left
        Series, right Series)`` per shared non-key column — func
        composes Column expressions, so the whole combine is one
        join + one projection."""
        on = [on] if isinstance(on, str) else list(on)
        lcols = [c for c in self._sdf.columns if c not in on]
        rcols = [c for c in other._sdf.columns if c not in on]
        shared = [c for c in lcols if c in set(rcols)]
        l = self._sdf.select(*on, *[F.col(c).alias(f"__l_{c}") for c in shared])
        r = other._sdf.select(*on, *[F.col(c).alias(f"__r_{c}") for c in shared])
        joined = DaskFrame(l.join(r, on=on, how="outer"))
        out = joined._sdf.select(
            *on,
            *[
                _col(func(
                    Series(joined, F.col(f"__l_{c}"), c),
                    Series(joined, F.col(f"__r_{c}"), c),
                )).alias(c)
                for c in shared
            ],
        )
        return DaskFrame(out)

    def dot(self, weights: Sequence[float]) -> "Series":
        """Row-wise dot of the numeric columns with a literal weight
        vector (reference _collection.py dot) — one projection."""
        cols = self._numeric_cols()
        if len(weights) != len(cols):
            raise ValueError(f"{len(weights)} weights for {len(cols)} columns")
        expr = None
        for c, w in zip(cols, weights):
            t = F.col(c) * float(w)
            expr = t if expr is None else expr + t
        return Series(self, expr, "dot")

    @property
    def index(self) -> "Series":
        """The set_index column as a Series (reference FrameBase
        .index); falls back to a column literally named 'index', else
        raises TypeError — an AttributeError here would be swallowed
        by __getattr__'s column fallback and lose the guidance."""
        idc = getattr(self, "_index_col", None)
        if idc is None:
            if "index" in self._sdf.columns:
                return Series(self, F.col("index"), "index")
            raise TypeError(
                "no index column: call set_index(col) first (no "
                "implicit RangeIndex in a distributed frame)"
            )
        return Series(self, F.col(idc), idc)

    @property
    def expr(self):
        """dask-expr handle analog: the Catalyst plan IS the
        expression graph (reference FrameBase.expr)."""
        return self._sdf

    @property
    def dask(self) -> str:
        """Legacy .dask graph analog — the analyzed Catalyst plan
        string (the object that plays the task graph's role here)."""
        return self._sdf._jdf.queryExecution().analyzed().toString()

    def to_backend(self, backend: str | None = None) -> "DaskFrame":
        """reference to_backend — only one backend exists here."""
        if backend not in (None, "spark", "pandas"):
            raise ValueError(f"unknown backend {backend!r}")
        return self

    def to_timestamp(self, col: str, unit: str = "s") -> "DaskFrame":
        """Cast a numeric epoch column to timestamp (reference
        _collection.py to_timestamp re-bases a PeriodIndex; the
        engine analog is epoch→timestamp)."""
        div = {"s": 1, "ms": 1000, "us": 1000000}[unit]
        return DaskFrame(self._sdf.withColumn(
            col, F.timestamp_seconds(F.col(col) / div)
        ))

    def mask_frame(self, cond: "Series", other=None) -> "DaskFrame":
        return self.where_frame(~cond, other)

    def eq(self, other, col: str):
        return self[col] == other

    def ne(self, other, col: str):
        return self[col] != other

    # ---- groupby / joins / reshape (delegated) -----------------------------
    def rollup(self, by, spec, grouping_flags: bool = True):
        """Hierarchical subtotal aggregation (SQL ROLLUP) — see
        operators/groupby.py grouping_agg."""
        from dask_spark.operators.groupby import grouping_agg

        keys = [by] if isinstance(by, str) else list(by)
        return grouping_agg(self, keys, spec, "rollup", grouping_flags)

    def cube(self, by, spec, grouping_flags: bool = True):
        """Every-subset subtotal aggregation (SQL CUBE) — see
        operators/groupby.py grouping_agg."""
        from dask_spark.operators.groupby import grouping_agg

        keys = [by] if isinstance(by, str) else list(by)
        return grouping_agg(self, keys, spec, "cube", grouping_flags)

    def groupby(self, by: str | Sequence[str], dropna: bool = True,
                sort: bool | None = None, group_keys: bool = True,
                observed: bool | None = None):
        """reference dask groupby(dropna=True) default: null-keyed
        rows form no group; dropna=False keeps the null group (Spark's
        native behavior).

        dask-parity kwargs (reference dask_expr/_collection.py:3031):
        ``sort`` — aggregation OUTPUT sorted by group keys when True
        (pandas default; dask defaults None = engine order, which is
        this engine's shuffle order — both accepted); ``group_keys``
        and ``observed`` are accepted for signature parity and
        recorded, but group_keys only changes pandas' index layering
        (no index here) and observed only matters for unobserved
        pandas Categoricals (categories here are plain values — every
        group is observed)."""
        from dask_spark.operators.groupby import GroupBy

        g = GroupBy(
            self, [by] if isinstance(by, str) else list(by), dropna
        )
        g._sort_output = bool(sort)
        return g

    def merge(self, right: "DaskFrame", how: str = "inner",
              on: str | Sequence[str] | None = None,
              left_on: str | Sequence[str] | None = None,
              right_on: str | Sequence[str] | None = None,
              broadcast: bool | None = None,
              suffixes: tuple[str, str] = ("_x", "_y"),
              indicator: bool = False,
              validate: str | None = None) -> "DaskFrame":
        from dask_spark.operators.joins import merge

        out = merge(self, right, how=how, on=on, left_on=left_on,
                    right_on=right_on, broadcast=broadcast, suffixes=suffixes,
                    indicator=indicator, validate=validate)
        # tz metadata survives a merge (pandas: tz is in the dtype):
        # tagged columns keep their zone under either the bare name or
        # the clash suffix; right first so the left side wins a (never
        # actually possible) bare-name clash
        if self._col_tz or getattr(right, "_col_tz", None):
            cols = set(out._sdf.columns)
            tz: dict = {}
            for side, suf in ((right, suffixes[1]), (self, suffixes[0])):
                for c, z in getattr(side, "_col_tz", {}).items():
                    if c + suf in cols:
                        tz[c + suf] = z
                    elif c in cols:
                        tz[c] = z
            out._col_tz = tz
        return out

    def join(self, right: "DaskFrame", on: str | Sequence[str], how: str = "left") -> "DaskFrame":
        return self.merge(right, how=how, on=on)

    def melt(self, id_vars, value_vars, var_name: str = "variable",
             value_name: str = "value") -> "DaskFrame":
        from dask_spark.operators.reshape import melt

        return melt(self, id_vars, value_vars, var_name, value_name)

    def pivot_table(self, index, columns: str, values: str, aggfunc: str = "mean") -> "DaskFrame":
        from dask_spark.operators.reshape import pivot_table

        return pivot_table(self, index, columns, values, aggfunc)

    def explode(self, column: str) -> "DaskFrame":
        from dask_spark.operators.reshape import explode

        return explode(self, column)

    def get_dummies(self, column: str | Sequence[str],
                    prefix: str | None = None,
                    values: Sequence[str] | None = None,
                    max_categories: int = 1024, **kw) -> "DaskFrame":
        """Delegates to operators.reshape.get_dummies — the full
        pandas/dask kwarg depth (prefix_sep/dummy_na/drop_first/dtype/
        columns) passes through; a list column is the columns= form."""
        from dask_spark.operators.reshape import get_dummies

        if isinstance(column, (list, tuple)):
            return get_dummies(
                self, columns=list(column),
                max_categories=max_categories, **kw
            )
        return get_dummies(self, column, prefix, values,
                           max_categories, **kw)

    def rolling(self, window: int | str, on: str,
                by: str | Sequence[str] | None = None,
                min_periods: int | None = None, center: bool = False):
        from dask_spark.operators.window import Rolling

        return Rolling(self, window, on, by, min_periods, center=center)

    def resample(self, rule: str, on: str, closed: str | None = None,
                 label: str | None = None, fill: bool = False):
        from dask_spark.operators.window import Resampler

        return Resampler(self, rule, on, closed=closed, label=label,
                         fill=fill)

    def merge_asof(self, right: "DaskFrame", on: str,
                   by: str | Sequence[str] | None = None,
                   direction: str = "backward",
                   tolerance=None,
                   suffixes: tuple[str, str] = ("", "_right"),
                   allow_exact_matches: bool = True) -> "DaskFrame":
        from dask_spark.operators.joins import merge_asof

        return merge_asof(self, right, on=on, by=by, direction=direction,
                          tolerance=tolerance, suffixes=suffixes,
                          allow_exact_matches=allow_exact_matches)

    # ---- python escape hatches ----------------------------------------------
    def map_partitions(self, fn: Callable, schema: str) -> "DaskFrame":
        """reference: dask/blockwise.py map_partitions → Arrow mapInPandas."""

        def gen(batches):
            for pdf in batches:
                out = fn(pdf)
                if out is not None and len(out):
                    yield out

        return DaskFrame(self._sdf.mapInPandas(gen, schema=schema))

    def apply(self, fn: Callable, schema: str) -> "DaskFrame":
        return self.map_partitions(lambda pdf: pdf.apply(fn, axis=1, result_type="expand"), schema)

    # ---- conversions (reference: dask_expr/_collection.py to_bag /
    # to_records / itertuples bridges) ---------------------------------------
    def to_bag(self, format: str = "dict") -> "Bag":
        """Rows as a Bag (reference: _collection.py to_bag). Lazy —
        rows become struct items ("dict") or arrays of doubles
        ("tuple" over numeric frames); pure projection, no shuffle."""
        from dask_spark.bag import Bag

        if format == "dict":
            item = F.struct(*[F.col(c) for c in self.columns])
        elif format == "tuple":
            item = F.array(*[F.col(c).cast("double") for c in self.columns])
        else:
            raise ValueError("format must be 'dict' or 'tuple'")
        return Bag(self._sdf.select(item.alias("item")))

    def to_records(self):
        """Numpy structured array (reference: _collection.py
        to_records). EAGER like dask's compute of the same — for a
        lazy bridge use to_bag()."""
        return self.compute().to_records(index=False)

    def to_delayed(self) -> list:
        """One Delayed per partition, each computing that partition's
        pandas DataFrame (reference: _collection.py:2501 to_delayed).
        Lazy: nothing runs until .compute(); independent partitions
        computed under the threaded scheduler submit concurrent Spark
        jobs. Spark caveat vs dask: each partition fetch is a filtered
        job over the plan — persist() this frame first if you will
        compute many of them."""
        from dask_spark.delayed import delayed

        fetch = delayed(lambda i: self.get_partition(i).compute(),
                        name="partition")
        return [fetch(i) for i in range(self.npartitions)]

    # ---- small dask-surface parity (reference: _collection.py) ---------
    @property
    def ndim(self) -> int:
        return 2

    @property
    def empty(self) -> bool:
        # dask raises for laziness reasons; one LIMIT-1 probe is cheap
        return self._sdf.limit(1).count() == 0

    @property
    def shape(self):
        """(rows, cols) — the row count is a real job, like computing
        dask's delayed shape[0]."""
        return (self._sdf.count(), len(self.columns))

    @property
    def size(self) -> int:
        rows, cols = self.shape
        return rows * cols

    @property
    def partitions(self) -> "_PartitionIndexer":
        """x.partitions[i] — one partition as a frame (reference:
        _collection.py partitions): a spark_partition_id filter, no
        data movement for the untouched partitions."""
        return _PartitionIndexer(self)

    def median_approximate(self, col: str, accuracy: int = 10000):
        """reference: _collection.py median_approximate →
        percentile_approx."""
        return self._sdf.agg(
            F.percentile_approx(col, 0.5, accuracy)
        ).first()[0]

    def memory_usage_per_partition(self) -> "DaskFrame":
        """Approximate bytes per partition (reference: _collection.py
        memory_usage_per_partition; dask sums pandas memory_usage per
        partition): per-partition row counts scaled by the Catalyst
        plan-size estimate. The global window runs over #partitions
        rows — divisions-scale, not data-scale."""
        from dask_spark.plans import estimated_size_bytes

        est = estimated_size_bytes(self)
        per = self._sdf.groupBy(
            F.spark_partition_id().alias("partition")
        ).agg(F.count(F.lit(1)).alias("__n"))
        # #partitions rows is bounded, but keep the repo invariant:
        # zero unpartitioned windows (scalar-agg + broadcast instead).
        tot = per.agg(F.sum("__n").alias("__total"))
        bytes_col = (
            F.col("__n") / F.col("__total") * F.lit(float(est))
        ).cast("bigint")
        return DaskFrame(
            per.crossJoin(F.broadcast(tot))
            .select("partition", bytes_col.alias("bytes"))
        )

    def reduction(self, chunk: Callable, aggregate: Callable,
                  schema: str):
        """Custom partition-wise reduction (reference: _collection.py
        reduction / dask's ACA): ``chunk`` runs per partition as an
        Arrow batch fn returning a SMALL frame; ``aggregate`` combines
        the concatenated chunk outputs on the driver (they are
        aggregate-sized, dask does the same tree-finalize on one
        worker)."""
        import pandas as pd

        def run(it):
            parts = [c for c in it if len(c)]
            if parts:
                yield chunk(pd.concat(parts, ignore_index=True))

        chunks = self._sdf.mapInPandas(run, schema=schema).toPandas()
        return aggregate(chunks)

    def iterrows(self):
        """Driver-side row iterator (reference: _collection.py
        iterrows) — streams partitions via toLocalIterator, never
        materializing the whole frame on the driver."""
        for row in self._sdf.toLocalIterator():
            yield row.asDict()

    def to_series(self) -> "Series":
        if len(self.columns) != 1:
            raise ValueError("to_series needs a single-column frame")
        c = self.columns[0]
        return Series(self, F.col(c), c)

    @classmethod
    def from_dict(cls, data, npartitions: int | None = None,
                  orient: str = "columns") -> "DaskFrame":
        """reference FrameBase.from_dict classmethod (the module-level
        from_dict twin): dict → pandas (honoring orient) → distributed
        frame."""
        import pandas as pd

        from dask_spark.sources import from_pandas

        return from_pandas(
            pd.DataFrame.from_dict(data, orient=orient), npartitions
        )

    @property
    def values(self):
        """reference FrameBase.values: the numeric columns as a dask
        array (to_dask_array with defaults) — ALWAYS the array, like
        pandas/dask, even when a column is literally named 'values'
        (a data-dependent return type on a public property would be
        worse than the shadow; use frame['values'] for the column)."""
        return self.to_dask_array()

    def to_dask_array(self, cols: Sequence[str] | None = None,
                      id_col: str | None = None):
        """Numeric columns → DArray (reference: _collection.py
        to_dask_array): rows stay partitioned, the selected columns
        become the in-row dim axis."""
        from dask_spark.array import DArray

        cols = list(cols) if cols else [
            c for c, t in self._sdf.dtypes
            if t in ("double", "float", "int", "bigint", "smallint")
            and c != id_col
        ]
        arr = F.array(*[F.col(c).cast("double") for c in cols])
        keep = [id_col] if id_col else []
        return DArray(
            self._sdf.select(*keep, arr.alias("x")), "x", id_col
        )

    def map_overlap(self, fn: Callable, schema: str, on: str,
                    before: float = 0, after: float = 0,
                    npartitions: int = 32) -> "DaskFrame":
        from dask_spark.operators.window import map_overlap

        return map_overlap(self, fn, schema, on, before, after, npartitions)

    def categorize(self, column: str, **kw) -> "DaskFrame":
        from dask_spark.operators.reshape import categorize

        return categorize(self, column, **kw)

    def to_string(self, n: int = 10) -> str:
        return self._sdf.limit(n).toPandas().to_string()

    def to_html(self, n: int = 10) -> str:
        return self._sdf.limit(n).toPandas().to_html()

    def to_hdf(self, path: str, key: str, **kw):
        """Driver-side pandas write (HDF5 is not a cluster format —
        reference dask also funnels through pandas per partition)."""
        self.compute().to_hdf(path, key=key, **kw)

    # ---- terminal ----------------------------------------------------------
    def compute(self, **kwargs):
        """Collect to pandas (== dask .compute()). Scheduler kwargs
        (``scheduler=``, ``num_workers=``…) are accepted and ignored —
        ported dask code passes them, Spark's scheduler is fixed."""
        return self._sdf.toPandas()

    def persist(self, **kwargs) -> "DaskFrame":
        return self._derive(self._sdf.cache())

    def checkpoint(self, eager: bool = True) -> "DaskFrame":
        """Truncate lineage (localCheckpoint): the plan so far is
        materialized to executor storage and downstream plans re-start
        from it. The Spark twin of persisting an intermediate dask
        collection to cut a deep graph — essential for iterative
        algorithms (the connected-components loop does exactly this
        per round to stop O(rounds) plan growth)."""
        return self._derive(self._sdf.localCheckpoint(eager=eager))

    def visualize(self, filename: str | None = None, mode: str = "formatted") -> str:
        """dask renders the task graph; the Spark-native equivalent of
        "show me what will run" is the Catalyst physical plan
        (reference: _collection.py visualize). Returns the explain text;
        writes it to ``filename`` when given."""
        from dask_spark.plans import plan_text

        txt = plan_text(self, mode)
        if filename:
            with open(filename, "w") as f:
                f.write(txt)
        return txt

    @property
    def axes(self) -> list:
        """[row-position range placeholder, columns] (reference:
        _collection.py axes; Spark frames carry no materialized index)."""
        return [None, self.columns]

    def isna(self) -> "DaskFrame":
        """Frame-level null mask (reference: _collection.py isna)."""
        return DaskFrame(
            self._sdf.select(*[F.col(c).isNull().alias(c) for c in self.columns])
        )

    isnull = isna

    def notna(self) -> "DaskFrame":
        return DaskFrame(
            self._sdf.select(
                *[F.col(c).isNotNull().alias(c) for c in self.columns]
            )
        )

    notnull = notna

    # ---- divisions / expression-graph parity shims ---------------------
    # (reference: _collection.py divisions/known_divisions/
    # clear_divisions/enforce_runtime_divisions, _expr.py simplify/
    # lower_once/optimize/pprint/analyze). Spark has no user-visible
    # divisions metadata — range partitioning is a physical property
    # Catalyst tracks internally — and the expression graph IS the
    # Catalyst plan, so these map to honest no-ops / explain synonyms
    # kept so ported dask code runs unchanged.
    @property
    def divisions(self) -> tuple:
        """Unknown divisions (a tuple of Nones, dask's spelling for
        "partitioned but boundaries unknown"). Use
        ``compute_current_divisions(col)`` for the real edges."""
        return (None,) * (self.npartitions + 1)

    @property
    def known_divisions(self) -> bool:
        return False

    def clear_divisions(self) -> "DaskFrame":
        return self

    def enforce_runtime_divisions(self) -> "DaskFrame":
        """dask inserts runtime checks that rows respect divisions; the
        range exchange already guarantees that here."""
        return self

    def simplify(self) -> "DaskFrame":
        return self

    def lower_once(self) -> "DaskFrame":
        return self

    def optimize(self) -> "DaskFrame":
        """Catalyst optimizes at action time; explicit call is a no-op."""
        return self

    def pprint(self) -> None:
        print(self.visualize(mode="simple"))

    def analyze(self, filename: str | None = None) -> str:
        """dask-expr's analyze = per-expression statistics; the Spark
        equivalent is the executed-plan SQLMetrics profile."""
        from dask_spark.plans.profiler import profile

        txt = str(profile(self))
        if filename:
            with open(filename, "w") as f:
                f.write(txt)
        return txt

    def compute_current_divisions(self, col: str) -> tuple:
        """ACTUAL partition boundaries of ``col`` (reference:
        _collection.py compute_current_divisions — dask scans partition
        edges; here one tiny job: per-partition min/max). Returns the
        dask-style (n+1)-tuple of division values; meaningful after
        set_index/repartitionByRange on ``col``."""
        rows = (
            self._sdf.select(
                F.spark_partition_id().alias("__pid"), F.col(col)
            )
            .groupBy("__pid")
            .agg(F.min(col).alias("lo"), F.max(col).alias("hi"))
            .orderBy("__pid")
            .collect()
        )
        if not rows:
            return ()
        return tuple([r["lo"] for r in rows] + [rows[-1]["hi"]])

    def to_sql(self, table: str, url: str,
               properties=None, mode: str = "append"):
        """JDBC write delegate (reference: io/sql.py to_sql)."""
        from dask_spark.sources import to_sql as _to_sql

        return _to_sql(self, table, url, properties, mode)

    def to_view(self, name: str) -> "DaskFrame":
        """Register as a temp view for ``dask_spark.sql`` queries."""
        self._sdf.createOrReplaceTempView(name)
        return self

    def to_spark(self) -> SparkDF:
        return self._sdf

    # ---- writers -------------------------------------------------------------
    def to_parquet(self, path: str, partition_on: Sequence[str] | None = None, mode: str = "overwrite"):
        w = self._sdf.write.mode(mode)
        if partition_on:
            w = w.partitionBy(*partition_on)
        w.parquet(path)

    def to_csv(self, path: str, mode: str = "overwrite"):
        self._sdf.write.mode(mode).option("header", True).csv(path)

    def to_json(self, path: str, mode: str = "overwrite"):
        self._sdf.write.mode(mode).json(path)

    def to_orc(self, path: str, mode: str = "overwrite"):
        self._sdf.write.mode(mode).orc(path)


class _ILoc:
    def __init__(self, frame: DaskFrame):
        self._frame = frame

    def __getitem__(self, key):
        if not (isinstance(key, tuple) and len(key) == 2):
            raise TypeError("iloc supports df.iloc[:, <column positions>] only")
        rows, cols = key
        if not (isinstance(rows, slice) and rows == slice(None)):
            raise TypeError("iloc row selection is not supported (no row order)")
        names = self._frame.columns
        if isinstance(cols, int):
            cols = [cols]
        elif isinstance(cols, slice):
            cols = list(range(*cols.indices(len(names))))
        return self._frame._derive(
            self._frame._sdf.select(*[names[i] for i in cols])
        )


class _Loc:
    def __init__(self, frame: DaskFrame):
        self._frame = frame

    def __getitem__(self, key):
        frame = self._frame
        if isinstance(key, tuple) and len(key) == 2:
            rows, cols = key
        else:
            rows, cols = key, None
        idx = getattr(frame, "_index_col", None)
        if isinstance(rows, Series):
            frame = frame._derive(frame._sdf.filter(rows._expr))
        elif isinstance(rows, slice) and rows == slice(None):
            pass
        elif isinstance(rows, slice) and idx is not None:
            # dask loc value-range over the set_index column —
            # INCLUSIVE of both ends (pandas/dask label semantics);
            # a plain predicate, so it pushes to the scan and prunes
            # range partitions exactly like dask prunes divisions
            if rows.step is not None:
                raise TypeError("loc slices take no step (label-based)")
            cond = None
            if rows.start is not None:
                cond = F.col(idx) >= rows.start
            if rows.stop is not None:
                hi = F.col(idx) <= rows.stop
                cond = hi if cond is None else (cond & hi)
            if cond is not None:
                frame = frame._derive(frame._sdf.filter(cond))
        elif idx is not None and not isinstance(rows, (slice, list, tuple)):
            frame = frame._derive(frame._sdf.filter(F.col(idx) == rows))
        elif idx is not None and isinstance(rows, (list, tuple)):
            frame = frame._derive(frame._sdf.filter(F.col(idx).isin(list(rows))))
        else:
            raise TypeError(
                "loc rows must be a boolean Series, ':', or (after "
                "set_index) an index value / list / value-range slice"
            )
        if cols is not None:
            cols = [cols] if isinstance(cols, str) else list(cols)
            frame = frame._derive(frame._sdf.select(*cols))
        return frame


def sql(query: str) -> DaskFrame:
    """Full Spark SQL over views registered with ``DaskFrame.to_view``
    — the engine's plans and SQL share one Catalyst session, so mixing
    API and SQL is free (something dask cannot offer)."""
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is None:
        from dask_spark.session import get_spark

        spark = get_spark()
    return DaskFrame(spark.sql(query))


def to_datetime(s: Series, format: str | None = None) -> Series:
    """reference: dask dd.to_datetime → to_timestamp (format in
    Spark's pattern dialect when given, else cast)."""
    expr = (F.to_timestamp(s._expr, format) if format
            else s._expr.cast("timestamp"))
    return Series(s._frame, expr, s._name)


def to_numeric(s: Series, errors: str = "raise") -> Series:
    """reference: dask dd.to_numeric. errors="coerce" → try_cast
    (null on failure); "raise" → plain cast (ANSI raises)."""
    expr = (s._expr.try_cast("double") if errors == "coerce"
            else s._expr.cast("double"))
    return Series(s._frame, expr, s._name)


def to_timedelta(s: Series, unit: str = "s") -> Series:
    """reference: dask dd.to_timedelta. Spark's timedelta is the
    DayTimeIntervalType; built via make_interval from the numeric
    value (unit: s/ms/us/m/h/d)."""
    scale = {"d": 86400.0, "h": 3600.0, "m": 60.0, "s": 1.0,
             "ms": 1e-3, "us": 1e-6}
    if unit not in scale:
        raise ValueError(f"unit must be one of {sorted(scale)}")
    secs = s._expr.cast("double") * F.lit(scale[unit])
    # make_dt_interval → DayTimeIntervalType (collects as timedelta64;
    # make_interval's CalendarIntervalType cannot round-trip to pandas)
    return Series(s._frame, F.make_dt_interval(secs=secs), s._name)


def concat(frames: Sequence[DaskFrame], axis: int = 0,
           on: str | None = None, join: str = "outer") -> DaskFrame:
    """reference: dask/dataframe/multi.py concat. axis=0 →
    unionByName with missing-column fill (no shuffle). axis=1 →
    column-wise alignment on the shared key ``on`` (dask aligns on the
    index; this engine's index analog is an explicit key column):
    outer/inner joins, duplicate non-key columns suffixed _0/_1/…"""
    if axis == 0:
        out = frames[0]._sdf
        for f in frames[1:]:
            out = out.unionByName(f._sdf, allowMissingColumns=True)
        # a zone tag survives the union only if every input frame that
        # HAS the column agrees on the zone (mixed aware/naive or
        # cross-zone unions drop to naive — the stored UTC instants
        # stay correct either way)
        tz: dict = {}
        for f in frames:
            for c, z in getattr(f, "_col_tz", {}).items():
                tz.setdefault(c, z)
        for f in frames:
            for c in list(tz):
                if c in f._sdf.columns and getattr(f, "_col_tz", {}).get(c) != tz[c]:
                    del tz[c]
        return DaskFrame(out, tz or None)
    if axis == 1:
        if on is None:
            raise ValueError("axis=1 concat needs on= (the alignment key)")
        hows = {"outer": "full_outer", "inner": "inner", "left": "left"}
        if join not in hows:
            raise ValueError(
                f"concat(axis=1) join={join!r} unsupported; "
                f"use one of {sorted(hows)}"
            )
        how = hows[join]
        seen = set()
        out = None
        for i, f in enumerate(frames):
            sdf = f._sdf
            for c in sdf.columns:
                if c != on and c in seen:
                    sdf = sdf.withColumnRenamed(c, f"{c}_{i}")
            seen.update(c for c in sdf.columns if c != on)
            out = sdf if out is None else out.join(sdf, on=on, how=how)
        return DaskFrame(out)
    raise ValueError(f"axis must be 0 or 1, got {axis}")


# numpy interop: np.sin(series) routes to the JVM ufunc twin
# (reference: dask collections' __array_ufunc__)
from dask_spark.ufunc import array_ufunc_dispatch as _array_ufunc  # noqa: E402

Series.__array_ufunc__ = _array_ufunc


def _series_array_function(self, func, types, args, kwargs):
    from dask_spark.routines import array_function_dispatch

    return array_function_dispatch(self, func, types, args, kwargs)


Series.__array_function__ = _series_array_function
