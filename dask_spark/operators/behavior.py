"""Event-sequence analytics over user activity streams: ordered
funnels and cohort retention — the two queries every product/event
warehouse runs daily, and at 100 TB the ones most tempting to write
wrong (a per-user sort of the full event log). The reference engine
expresses these as groupby-apply over pandas chunks
(dask/dataframe/groupby.py apply); here they lower to chained
user-keyed min-aggregations and date-bucketed distinct counts —
pure Catalyst plans, no Python in the path.

100 TB shape: every exchange is user-keyed or (cohort, offset)-keyed
and map-side combined. The funnel filters each step to its event type
AT THE SCAN (predicate pushdown — a step's exchange carries only that
step's matching events, not the log), and each chaining join moves
one row per user who reached the previous step. Retention moves one
(user, week) pair per active user-week into a cohort-keyed count.
Nothing is ever sorted per user and nothing event-sized reaches the
driver; counts are exact integers, so results are pure functions of
the row set and replay exactly in SQL."""

from __future__ import annotations

from typing import Sequence

import pyspark.sql.functions as F

from dask_spark.frame import DaskFrame


def funnel(events, steps: Sequence[str], user_col: str = "user_id",
           type_col: str = "event_type", ts_col: str = "ts",
           within_seconds: int | None = None):
    """Ordered-funnel report → DaskFrame(step_idx, step, users):
    users reaching step i completed steps 1..i in STRICT timestamp
    order (t_i = the user's earliest ``steps[i]`` event with
    ts > t_{i-1}), the standard windowed-funnel semantics. With
    ``within_seconds``, every step must land within that window of
    the user's step-1 time (conversion window).

    Strict ``>`` chaining makes the result tie-unambiguous: two
    events on the same timestamp cannot witness consecutive steps,
    so no engine- or order-dependent tiebreak exists to diverge
    on."""
    steps = list(steps)
    if len(steps) < 1:
        raise ValueError("funnel needs at least one step")
    if len(set(steps)) != len(steps):
        raise ValueError("funnel steps must be distinct")
    sdf = events._sdf if isinstance(events, DaskFrame) else events
    u = F.col(user_col)

    def step_events(s):
        return sdf.filter(F.col(type_col) == s).select(
            u.alias("u"), F.col(ts_col).alias("t")
        )

    cur = step_events(steps[0]).groupBy("u").agg(F.min("t").alias("tprev"))
    if within_seconds is not None:
        cur = cur.withColumn(
            "tmax",
            (F.col("tprev").cast("double")
             + F.lit(float(within_seconds))).cast("timestamp"),
        )
    legs = [cur.select(F.lit(1).alias("step_idx"), F.col("u"))]
    prev = cur
    for i, s in enumerate(steps[1:], start=2):
        nxt = step_events(s).join(prev.drop("t"), "u").filter(
            F.col("t") > F.col("tprev")
        )
        if within_seconds is not None:
            nxt = nxt.filter(F.col("t") <= F.col("tmax"))
        agg = [F.min("t").alias("tprev")]
        if within_seconds is not None:
            agg.append(F.first("tmax").alias("tmax"))
        prev = nxt.groupBy("u").agg(*agg)
        legs.append(prev.select(F.lit(i).alias("step_idx"), F.col("u")))
    reached = legs[0]
    for leg in legs[1:]:
        reached = reached.unionAll(leg)
    counts = reached.groupBy("step_idx").agg(
        F.count(F.lit(1)).cast("bigint").alias("users")
    )
    spark = sdf.sparkSession
    names = spark.createDataFrame(
        [(i + 1, s) for i, s in enumerate(steps)],
        "step_idx int, step string",
    )
    # left join from the step table keeps zero-user steps in the
    # report; everything stays one lazy plan (no per-step driver jobs)
    out = names.join(F.broadcast(counts), "step_idx", "left").select(
        "step_idx", "step",
        F.coalesce("users", F.lit(0).cast("bigint")).alias("users"),
    ).orderBy("step_idx")
    return DaskFrame(out)


def funnel_users(events, steps: Sequence[str], user_col: str = "user_id",
                 type_col: str = "event_type", ts_col: str = "ts"):
    """Per-user funnel depth → DaskFrame(user, max_step): the highest
    step index (1-based) each step-1 user reached under funnel()'s
    strict-order semantics — the row-level form feeding user-list
    exports and drop-off joins. Same chained user-keyed plan; the
    step columns ride one DataFrame so the engine shares the
    scans."""
    steps = list(steps)
    if len(steps) < 1:
        raise ValueError("funnel needs at least one step")
    sdf = events._sdf if isinstance(events, DaskFrame) else events
    u = F.col(user_col)

    def step_events(s):
        return sdf.filter(F.col(type_col) == s).select(
            u.alias("u"), F.col(ts_col).alias("t")
        )

    prev = step_events(steps[0]).groupBy("u").agg(F.min("t").alias("tprev"))
    depth = prev.select("u", F.lit(1).alias("max_step"))
    for i, s in enumerate(steps[1:], start=2):
        prev = (
            step_events(s).join(prev, "u")
            .filter(F.col("t") > F.col("tprev"))
            .groupBy("u").agg(F.min("t").alias("tprev"))
        )
        depth = depth.join(
            prev.select("u", F.lit(i).alias("__s")), "u", "left"
        ).select(
            "u",
            F.greatest("max_step", F.coalesce("__s", F.lit(0)))
            .alias("max_step"),
        )
    return DaskFrame(depth.select(F.col("u").alias("user"), "max_step"))


def cohort_retention(events, user_col: str = "user_id",
                     ts_col: str = "ts", max_weeks: int | None = None):
    """Weekly cohort retention → DaskFrame(cohort_week, week_k,
    users): cohort_week is the Monday of the user's FIRST event;
    users counts the cohort's distinct users active in week
    cohort_week + k (week_k = 0 is the cohort size). Exact integer
    week offsets (datediff div 7 on date_trunc'd Mondays), so both
    engines bucket identically.

    Two user-keyed aggregates + one (cohort, k)-keyed distinct count;
    the distinct collapses to (user, week) pairs map-side before the
    exchange."""
    sdf = events._sdf if isinstance(events, DaskFrame) else events
    u = F.col(user_col)
    wk = F.date_trunc("week", F.col(ts_col)).cast("date")
    first = sdf.groupBy(u.alias("u")).agg(
        F.min(wk).alias("cohort_week")
    )
    act = sdf.select(u.alias("u"), wk.alias("w")).distinct()
    j = act.join(first, "u").select(
        "u", "cohort_week",
        (F.datediff(F.col("w"), F.col("cohort_week")) / 7)
        .cast("int").alias("week_k"),
    )
    if max_weeks is not None:
        j = j.filter(F.col("week_k") <= int(max_weeks))
    out = (
        j.groupBy("cohort_week", "week_k")
        .agg(F.countDistinct("u").cast("bigint").alias("users"))
    )
    return DaskFrame(out)


def transition_matrix(events, user_col: str = "user_id",
                      type_col: str = "event_type", ts_col: str = "ts",
                      id_col: str = "event_id", round_dp: int = 6):
    """First-order Markov transitions between consecutive events of
    each user → DaskFrame(from_type, to_type, cnt, prob): cnt counts
    adjacent (by timestamp) event pairs, prob = cnt / Σ cnt per
    from_type, rounded on both engines so the ratio of exact integer
    counts hashes identically.

    Ordering is (ts, id) — the unique id breaks timestamp ties, so
    the pair set is deterministic. One user-keyed window (the lag)
    + one (from, to)-keyed count (map-side combined; state is at most
    |event types|² per partition) + a broadcast-size per-from total
    joined back via a window over the tiny transition table."""
    from pyspark.sql import Window

    sdf = events._sdf if isinstance(events, DaskFrame) else events
    w = Window.partitionBy(F.col(user_col)).orderBy(
        F.col(ts_col), F.col(id_col)
    )
    pairs = sdf.select(
        F.col(type_col).alias("from_type"),
        F.lead(F.col(type_col)).over(w).alias("to_type"),
    ).filter(F.col("to_type").isNotNull())
    counts = pairs.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    tot = Window.partitionBy("from_type")
    out = counts.select(
        "from_type", "to_type", "cnt",
        F.round(
            F.col("cnt").cast("double")
            / F.sum("cnt").over(tot).cast("double"),
            round_dp,
        ).alias("prob"),
    )
    return DaskFrame(out)


def peak_concurrency(events, window_seconds: int = 1800,
                     ts_col: str = "ts"):
    """Daily peak concurrency → DaskFrame(day, peak): each event
    opens a half-open activity interval [ts, ts + window_seconds);
    peak is the maximum number of simultaneously open intervals per
    calendar day — the classic +1/−1 interval sweep (max concurrent
    sessions / capacity planning).

    The running sum uses the DISTRIBUTED keyless prefix scan shape
    (range-bucket + per-bucket window + driver-combined bucket
    offsets — never a single-partition window). The sort key encodes
    the marker type in its low bit (ends even, starts odd) so an
    expiring interval releases BEFORE a same-instant start counts;
    ties within one key share a sign, so the per-day MAX over start
    rows is tie-order invariant — the result is a pure function of
    the event multiset.

    r15: fused per-bucket form (guide §2.4) — because the scan's only
    consumer is the per-DAY max (a bounded output), one windowed
    per-(bucket, day) aggregate collects (Σd, max local-prefix over
    start rows) and the driver combines with exact exclusive-prefix
    offsets: max_global = max local + offset_b, max over buckets.
    This replaces the generic cumulative() machinery's totals collect
    + second full pass + broadcast join with a single pass after the
    cuts job; collected rows ≤ buckets × days. Integer arithmetic
    throughout — bit-identical to the chained form."""
    from pyspark.sql import Window

    from dask_spark.operators.sort import range_bucket

    sdf = events._sdf if isinstance(events, DaskFrame) else events
    sdf = sdf.filter(F.col(ts_col).isNotNull())
    us = F.unix_micros(F.col(ts_col))
    w_us = int(window_seconds) * 1_000_000
    starts = sdf.select(
        F.col(ts_col).alias("t"),
        (us * 2 + 1).alias("k"),
        F.lit(1).cast("bigint").alias("d"),
    )
    ends = sdf.select(
        F.timestamp_micros(us + w_us).alias("t"),
        ((us + w_us) * 2).alias("k"),
        F.lit(-1).cast("bigint").alias("d"),
    )
    m = starts.unionAll(ends)
    ranged, _nb = range_bucket(m, "k")
    w = (
        Window.partitionBy("__pid").orderBy("k")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    lc = F.sum("d").over(w)
    per_bd = (
        ranged.withColumn("__lc", lc)
        .groupBy(
            "__pid",
            F.col("t").cast("date").cast("string").alias("day"),
        )
        .agg(
            F.sum("d").alias("s"),
            F.max(F.when(F.col("d") == 1, F.col("__lc"))).alias("mx"),
        )
        .collect()
    )
    by_pid: dict = {}
    for r in per_bd:
        by_pid.setdefault(r["__pid"], []).append(r)
    peaks: dict = {}
    off = 0
    for pid in sorted(by_pid):
        s_b = 0
        for r in by_pid[pid]:
            s_b += int(r["s"])
            if r["mx"] is not None:
                c = int(r["mx"]) + off
                day = r["day"]
                if day not in peaks or c > peaks[day]:
                    peaks[day] = c
        off += s_b
    spark = sdf.sparkSession
    out = spark.createDataFrame(
        sorted(peaks.items()) or [], "day string, peak bigint"
    )
    return DaskFrame(out)


def length_outliers(docs, group_col: str = "source",
                    value_col: str = "n_chars", id_col: str = "doc_id",
                    thresh: float = 3.0, round_dp: int = 6):
    """Per-group robust outlier gate → DaskFrame(id, group, value,
    med, mad, deviation, is_outlier): flag rows whose |x − median|
    exceeds ``thresh`` × MAD (median absolute deviation) of their
    group — the standard robust alternative to z-scores for
    length-based document cleaning (means/stds are themselves skewed
    by the outliers being hunted). Degenerate groups (MAD = 0, i.e.
    over half the group identical) flag nothing by contract.

    Two group-keyed exact-percentile aggregates (median, then MAD on
    the deviations) with the per-group stats joined back broadcast —
    the group-stats table is |groups|-bounded."""
    sdf = docs._sdf if isinstance(docs, DaskFrame) else docs
    sdf = sdf.filter(
        F.col(group_col).isNotNull() & F.col(value_col).isNotNull()
    )
    x = F.col(value_col).cast("double")
    med = sdf.groupBy(group_col).agg(
        F.percentile(x, F.lit(0.5)).alias("med")
    )
    j = sdf.join(F.broadcast(med), group_col)
    dev = F.abs(x - F.col("med"))
    mad = j.groupBy(group_col).agg(
        F.percentile(F.abs(x - F.col("med")), F.lit(0.5)).alias("mad")
    )
    out = j.join(F.broadcast(mad), group_col).select(
        F.col(id_col),
        F.col(group_col),
        F.col(value_col),
        F.round(F.col("med"), round_dp).alias("med"),
        F.round(F.col("mad"), round_dp).alias("mad"),
        F.round(dev, round_dp).alias("deviation"),
        (
            (F.col("mad") > 0)
            & (dev > F.lit(float(thresh)) * F.col("mad"))
        ).alias("is_outlier"),
    )
    return DaskFrame(out)


def last_touch_attribution(events, conversion_type: str = "purchase",
                           user_col: str = "user_id",
                           type_col: str = "event_type",
                           ts_col: str = "ts", id_col: str = "event_id",
                           within_seconds: int | None = None):
    """Last-touch conversion attribution → DaskFrame(attributed_type,
    conversions): each conversion event credits the user's MOST
    RECENT preceding non-conversion event (strictly earlier in
    (ts, id) order — the unique id makes same-instant ties
    deterministic); conversions with no qualifying touch (first
    event, or outside ``within_seconds``) credit '(none)'. The
    marketing-analytics staple beside funnels and retention.

    100 TB shape: ONE user-keyed window pass carries the last
    non-conversion (ts, type) struct forward (last(ignorenulls) over
    rows 1 PRECEDING — no self-join, no per-conversion scan), then a
    |types|-bounded count; the only exchange is the user-keyed sort
    the window family already pays, so the plan survives any event
    volume with per-user partition state."""
    from pyspark.sql import Window

    sdf = events._sdf if isinstance(events, DaskFrame) else events
    w = (
        Window.partitionBy(F.col(user_col))
        .orderBy(F.col(ts_col), F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch = F.last(
        F.when(
            F.col(type_col) != F.lit(conversion_type),
            F.struct(F.col(ts_col).alias("t"),
                     F.col(type_col).alias("k")),
        ),
        ignorenulls=True,
    ).over(w)
    staged = (
        sdf.filter(
            F.col(ts_col).isNotNull() & F.col(type_col).isNotNull()
        )
        .withColumn("__touch", touch)
        .filter(F.col(type_col) == F.lit(conversion_type))
    )
    ok = F.col("__touch").isNotNull()
    if within_seconds is not None:
        ok = ok & (
            F.unix_timestamp(F.col(ts_col))
            - F.unix_timestamp(F.col("__touch.t"))
            <= F.lit(int(within_seconds))
        )
    out = (
        staged.select(
            F.when(ok, F.col("__touch.k"))
            .otherwise(F.lit("(none)")).alias("attributed_type")
        )
        .groupBy("attributed_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("conversions"))
    )
    return DaskFrame(out)


def time_to_convert(events, from_type: str = "signup",
                    to_type: str = "purchase",
                    user_col: str = "user_id", ts_col: str = "ts",
                    qs=(0.25, 0.5, 0.75)):
    """Time-to-conversion summary → one-row DaskFrame(n_users,
    n_converted, ttc_25/_5/_75 seconds): per user, the delta between
    the FIRST ``from_type`` event and the first ``to_type`` event
    strictly after it — "how long from signup to purchase", the
    funnel family's duration readout.

    Two user-keyed aggregates (first-from via min; first-to-after via
    a conditional min against the broadcast first-from), deltas are
    EXACT integer seconds (epoch-second min/max arithmetic), and the
    percentiles are Spark percentile() == DuckDB quantile_cont
    bit-for-bit over those integers (the length_outliers contract).
    Users who never convert count in n_users only."""
    from pyspark.sql import functions as F

    sdf = events._sdf if isinstance(events, DaskFrame) else events
    base = sdf.filter(
        F.col(ts_col).isNotNull() & F.col("event_type").isNotNull()
    ).select(
        F.col(user_col).alias("u"), "event_type",
        F.unix_timestamp(F.col(ts_col)).alias("es"),
    )
    first_from = (
        base.filter(F.col("event_type") == from_type)
        .groupBy("u").agg(F.min("es").alias("t0"))
    )
    joined = base.filter(F.col("event_type") == to_type).join(
        F.broadcast(first_from), "u"
    )
    first_to = (
        joined.filter(F.col("es") > F.col("t0"))
        .groupBy("u").agg(
            F.min("es").alias("t1"), F.first("t0").alias("t0")
        )
    )
    deltas = first_to.select(
        (F.col("t1") - F.col("t0")).cast("double").alias("d")
    )
    aggs = [
        F.count(F.lit(1)).cast("bigint").alias("n_converted"),
        *[
            F.percentile(F.col("d"), F.lit(float(q)))
            .alias("ttc_" + f"{float(q):g}".replace("0.", ""))
            for q in qs
        ],
    ]
    conv = deltas.agg(*aggs)
    nu = first_from.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users")
    )
    return DaskFrame(nu.crossJoin(conv))


def rolling_active_users(events, window_days: int = 7,
                         user_col: str = "user_id",
                         ts_col: str = "ts"):
    """Rolling N-day active users per day → DaskFrame(day, wau):
    distinct users seen in [day − N + 1, day] for every observed day
    — the WAU/MAU product metric.

    Shape: events collapse map-side to DISTINCT (day, user) pairs
    first (the big win — a user's thousandth event that day is
    free), each pair then contributes to the N target days it covers
    (one in-row explode — the exchange is N × |day-user pairs|, the
    metric's inherent bill), and one (day)-keyed exact distinct
    count finishes. Days beyond the last observed day are clipped
    (no ghost trailing windows)."""
    from pyspark.sql import functions as F

    sdf = events._sdf if isinstance(events, DaskFrame) else events
    pairs = (
        sdf.filter(F.col(ts_col).isNotNull()
                   & F.col(user_col).isNotNull())
        .select(
            F.col(ts_col).cast("date").alias("d"),
            F.col(user_col).alias("u"),
        )
        .distinct()
    )
    max_day = pairs.agg(F.max("d")).first()[0]
    if max_day is None:
        raise ValueError("rolling_active_users: no events")
    n = int(window_days)
    if n < 1:
        raise ValueError(f"window_days must be >= 1, got {n}")
    targets = F.explode(
        F.sequence(F.col("d"), F.date_add(F.col("d"), n - 1))
    )
    contrib = pairs.select(targets.alias("day"), "u").filter(
        F.col("day") <= F.lit(max_day)
    )
    out = contrib.groupBy("day").agg(
        F.countDistinct("u").cast("bigint").alias("wau")
    ).select(F.col("day").cast("string").alias("day"), "wau")
    return DaskFrame(out)


def top_paths(events, length: int = 3, k: int = 10,
              user_col: str = "user_id", type_col: str = "event_type",
              ts_col: str = "ts", id_col: str = "event_id"):
    """Most frequent length-N event paths → DaskFrame(path, n): the
    consecutive event-type sequences users actually walk (the
    "view > click > purchase vs view > error > exit" product
    question), counted over every user's (ts, id)-ordered stream.

    Shape: per-user windows build the N-grams via lead chains (the
    user-keyed sort the window family already pays — events never
    collect to the driver), the (path)-keyed count collapses
    map-side (≤ |types|^N keys), TakeOrdered k with a path tie-break
    finishes. Paths never span users."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    if length < 2:
        raise ValueError(f"length must be >= 2, got {length}")
    sdf = events._sdf if isinstance(events, DaskFrame) else events
    w = Window.partitionBy(F.col(user_col)).orderBy(
        F.col(ts_col), F.col(id_col)
    )
    base = sdf.filter(
        F.col(ts_col).isNotNull() & F.col(type_col).isNotNull()
    )
    steps = [F.col(type_col)]
    for i in range(1, int(length)):
        steps.append(F.lead(F.col(type_col), i).over(w))
    staged = base.select(
        F.concat_ws(" > ", *steps).alias("path"),
        steps[-1].isNotNull().alias("__complete"),
    )
    out = (
        staged.filter(F.col("__complete"))
        .groupBy("path").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .orderBy(F.col("n").desc(), F.col("path"))
        .limit(int(k))
    )
    return DaskFrame(out)


def stickiness(events, short_days: int = 1, long_days: int = 30,
               user_col: str = "user_id", ts_col: str = "ts",
               round_dp: int = 6):
    """DAU/MAU stickiness per day → DaskFrame(day, dau, mau,
    stickiness): the engagement-quality ratio (what share of the
    month's actives show up on a given day) — composes two
    rolling_active_users passes over the SAME distinct (day, user)
    pair table and one day-keyed join; the ratio is one pinned
    division of exact int64 counts."""
    from pyspark.sql import functions as F

    short = rolling_active_users(
        events, short_days, user_col, ts_col
    )._sdf.withColumnRenamed("wau", "dau")
    long = rolling_active_users(
        events, long_days, user_col, ts_col
    )._sdf.withColumnRenamed("wau", "mau")
    out = short.join(long, "day").select(
        "day", "dau", "mau",
        F.round(
            F.col("dau").cast("double") / F.col("mau").cast("double"), round_dp
        ).alias("stickiness"),
    )
    return DaskFrame(out)


def hourly_profile(events, ts_col: str = "ts", round_dp: int = 6):
    """Hour-of-day × day-of-week activity heatmap →
    DaskFrame(dow, hour, n, share, lift): the seasonality profile
    behind anomaly baselines (an alert at 3am Sunday means something
    different than at 2pm Tuesday); lift = observed share / uniform
    share (1/168).

    One ≤168-key exact count (map-side combined); share and lift are
    pinned divisions. dow is 1=Sunday..7=Saturday (Spark dayofweek ==
    DuckDB's dayofweek+1 — the oracle aligns explicitly)."""
    sdf = events._sdf if isinstance(events, DaskFrame) else events
    per = (
        sdf.filter(F.col(ts_col).isNotNull())
        .groupBy(
            F.dayofweek(F.col(ts_col)).alias("dow"),
            F.hour(F.col(ts_col)).alias("hour"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    tot = per.groupBy().agg(F.sum("n").cast("bigint").alias("__t"))
    out = per.crossJoin(F.broadcast(tot)).select(
        "dow", "hour", "n",
        F.round(F.col("n").cast("double") / F.col("__t").cast("double"),
                round_dp).alias("share"),
        F.round(
            F.col("n").cast("double") / F.col("__t").cast("double")
            * F.lit(168.0),
            round_dp,
        ).alias("lift"),
    )
    return DaskFrame(out)
