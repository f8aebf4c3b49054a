"""Data-drift monitoring: Population Stability Index between a
reference snapshot and a current batch — the standard production
gate for "has this column's distribution moved" (credit-risk
heritage, now ML-ops boilerplate). A training-data pipeline runs it
per ingest batch against the curated corpus it trained on.

100 TB shape: ONE (min, max, count) aggregate on the reference + two
bucket-count aggregates (map-side combined, exchange ≤ bins partials
per partition at any input size); the only driver data is ≤ bins
scalars per side — the histogram_quantiles bill. The PSI fold runs
driver-side over the bucket-ordered contribution list (strict
left-to-right, the exact-sum pattern every sketch op here uses), so
the result is bit-identical to the oracle's list_reduce replay."""

from __future__ import annotations

import math

import pyspark.sql.functions as F

from dask_spark.frame import DaskFrame


def _bucket_counts(sdf, value_col: str, mn: float, width: float,
                   bins: int) -> dict[int, int]:
    x = F.col(value_col).cast("double")
    b = F.least(
        F.greatest(F.floor((x - F.lit(mn)) / F.lit(width)), F.lit(0)),
        F.lit(int(bins) - 1),
    ).cast("int")
    rows = (
        sdf.filter(x.isNotNull())
        .select(b.alias("__b"))
        .groupBy("__b").agg(F.count(F.lit(1)).alias("c"))
        .collect()
    )
    return {r["__b"]: r["c"] for r in rows}


def psi_drift(reference, current, value_col: str, bins: int = 20):
    """PSI between ``reference`` and ``current`` on ``value_col`` →
    one-row DaskFrame(psi, n_ref, n_cur, n_buckets). Buckets are
    ``bins`` fixed-width intervals over the REFERENCE min/max
    (current-batch values outside the reference range clamp into the
    edge buckets — out-of-range drift lands in the tails, where PSI
    should see it); both sides use Laplace-smoothed shares
    p_i = (c_i + 0.5) / (n + 0.5·bins) so empty buckets contribute a
    finite, deterministic term instead of ln(0).

    PSI = Σ (p_i − q_i)·ln(p_i/q_i), folded in bucket order with the
    same left-to-right double chain the SQL oracle replays. Common
    reading: < 0.1 stable, 0.1–0.25 drifting, > 0.25 shifted."""
    if bins < 2:
        raise ValueError(f"bins must be >= 2, got {bins}")
    ref = reference._sdf if isinstance(reference, DaskFrame) else reference
    cur = current._sdf if isinstance(current, DaskFrame) else current
    x = F.col(value_col).cast("double")
    mn, mx, n_ref = (
        ref.filter(x.isNotNull())
        .agg(F.min(x), F.max(x), F.count(F.lit(1))).first()
    )
    if not n_ref:
        raise ValueError("psi_drift: empty reference")
    mn, mx = float(mn), float(mx)
    B = int(bins)
    width = (mx - mn) / B if mx > mn else 1.0
    rc = _bucket_counts(ref, value_col, mn, width, B)
    cc = _bucket_counts(cur, value_col, mn, width, B)
    n_cur = sum(cc.values())
    if not n_cur:
        raise ValueError("psi_drift: empty current batch")
    psi = 0.0
    for i in range(B):
        p = (rc.get(i, 0) + 0.5) / (n_ref + 0.5 * B)
        q = (cc.get(i, 0) + 0.5) / (n_cur + 0.5 * B)
        psi = psi + (p - q) * math.log(p / q)
    spark = ref.sparkSession
    out = spark.createDataFrame(
        [(round(psi, 6), int(n_ref), int(n_cur), B)],
        "psi double, n_ref bigint, n_cur bigint, n_buckets int",
    )
    return DaskFrame(out)


def ks_drift(reference, current, value_col: str, round_dp: int = 6,
             exact: bool = True, bins: int = 8192,
             anchor: str = "union"):
    """Two-sample Kolmogorov–Smirnov statistic → one-row
    DaskFrame(d_stat, d_num, n_ref, n_cur): D = max over sample
    points of |F_ref(x) − F_cur(x)| — PSI's binning-free companion
    (PSI is bucket-resolution-bounded; KS sees any shape change but
    needs the order statistics).

    EXACT-INTEGER form: with cumulative counts r1, r2 at each
    distinct value, D = max|r1·n2 − r2·n1| / (n1·n2) — the max runs
    over int64 products (exact while n1·n2 < 2^63; at larger scales
    pre-aggregate or sample, documented), so the statistic is a pure
    function of the two multisets and the one float step is the
    final division. Plan: one (value)-keyed count per side collapsed
    map-side, then the DISTRIBUTED keyless prefix scan over the
    distinct-value table (range-bucket + per-bucket window +
    driver-combined offsets) — the exchange is distinct-values-
    bounded, never row-bounded, and nothing data-sized reaches the
    driver.

    100 TB escalation path (``exact=False``): the exact prefix scan is
    DISTINCT-VALUE-bounded — ~rows for continuous data. The binned
    mode histograms both samples onto ONE shared ``bins``-bucket grid
    over the union's [min, max] (reduce_quantile_hist arithmetic,
    oracle bit-identical) and evaluates D only at bucket boundaries —
    the exact KS of the binned distributions, understating true D by
    at most the largest single-bucket mass. The ≤ bins count rows
    collect and fold in exact python integers. Crossover: exact below
    ~1e7 distinct values; binned beyond (SURVEY §4).

    ``anchor`` (binned mode only): "union" fits the grid on the
    combined [min, max] (default — tightest resolution); "reference"
    anchors on the reference alone with out-of-range current values
    clamped into the tail buckets (the PSI convention; the shape the
    STREAMING twin ks_binned_stream must use, since a stream cannot
    know the future union range — batch anchor="reference" is its
    bit-exact validation run)."""
    from pyspark.sql import Window
    from pyspark.sql.types import (IntegerType, LongType, StructField,
                                   StructType)

    from dask_spark.operators.sort import range_bucket

    ref = reference._sdf if isinstance(reference, DaskFrame) else reference
    cur = current._sdf if isinstance(current, DaskFrame) else current
    x = F.col(value_col).cast("double")
    r = ref.filter(x.isNotNull()).select(x.alias("v"),
                                         F.lit(1).alias("isr"))
    c = cur.filter(x.isNotNull()).select(x.alias("v"),
                                         F.lit(0).alias("isr"))
    u = r.unionAll(c)
    if not exact:
        if anchor not in ("union", "reference"):
            raise ValueError(f"anchor must be union|reference, got {anchor!r}")
        B = int(bins)
        spark = ref.sparkSession
        grid_src = u if anchor == "union" else r
        st = grid_src.agg(F.min("v").alias("mn"),
                          F.max("v").alias("mx")).first()
        if st["mn"] is None:
            raise ValueError("ks_drift: empty reference or current sample")
        mn, mx = float(st["mn"]), float(st["mx"])
        if mx == mn:
            bucket = F.lit(0).cast("int")
        else:
            w = (mx - mn) / B
            bucket = F.least(
                F.greatest(F.floor((F.col("v") - F.lit(mn)) / F.lit(w)),
                           F.lit(0)),
                F.lit(B - 1),
            ).cast("int")
        rows = (
            u.select(bucket.alias("b"), "isr")
            .groupBy("b")
            .agg(
                F.sum("isr").cast("bigint").alias("cr"),
                F.sum(1 - F.col("isr")).cast("bigint").alias("cc"),
            )
            .collect()
        )
        n_ref = sum(int(r0["cr"]) for r0 in rows)
        n_cur = sum(int(r0["cc"]) for r0 in rows)
        if n_ref == 0 or n_cur == 0:
            raise ValueError("ks_drift: empty reference or current sample")
        r1 = r2 = 0
        d_num = 0  # exact: max |r1·n_cur − r2·n_ref| over bucket bounds
        for r0 in sorted(rows, key=lambda r0: r0["b"]):
            r1 += int(r0["cr"])
            r2 += int(r0["cc"])
            d_num = max(d_num, abs(r1 * n_cur - r2 * n_ref))
        d_stat = round(float(d_num) / (float(n_ref) * float(n_cur)),
                       round_dp)
        return DaskFrame(spark.createDataFrame(
            [(d_stat, d_num, n_ref, n_cur)],
            "d_stat double, d_num bigint, n_ref bigint, n_cur bigint",
        ))
    g = u.groupBy("v").agg(
        F.sum("isr").cast("bigint").alias("cr"),
        F.sum(1 - F.col("isr")).cast("bigint").alias("cc"),
    ).persist()
    # ONE shared bucketing drives both running sums, and ONE per-
    # bucket totals collect supplies BOTH prefix-offset tables AND
    # n_ref/n_cur; g itself persists so the range-cut sampling pass
    # and the totals pass aggregate the raw union ONCE — the previous
    # two independent cumulative() calls re-sampled cuts and re-ran
    # the union aggregate per scan (3.7s -> ~2.1s at sf0.1,
    # identical output).
    ranged, _nb = range_bucket(g, "v")
    totals = {
        row["__pid"]: (row["tr"], row["tc"])
        for row in ranged.groupBy("__pid").agg(
            F.sum("cr").alias("tr"), F.sum("cc").alias("tc")
        ).collect()
    }
    n_ref = sum(int(tr or 0) for tr, _ in totals.values())
    n_cur = sum(int(tc or 0) for _, tc in totals.values())
    if n_ref == 0 or n_cur == 0:
        g.unpersist()
        raise ValueError("ks_drift: empty reference or current sample")
    offsets, ar, ac = [], 0, 0
    for pid in sorted(totals):
        offsets.append((pid, ar, ac))
        tr, tc = totals[pid]
        ar += int(tr or 0)
        ac += int(tc or 0)
    off_df = ref.sparkSession.createDataFrame(
        offsets,
        StructType([StructField("__pid", IntegerType()),
                    StructField("__or", LongType()),
                    StructField("__oc", LongType())]),
    )
    w = (
        Window.partitionBy("__pid").orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    r1 = F.sum("cr").over(w) + F.col("__or")
    r2 = F.sum("cc").over(w) + F.col("__oc")
    diff = F.abs(r1 * F.lit(n_cur) - r2 * F.lit(n_ref))
    d_num = (
        ranged.join(F.broadcast(off_df), "__pid")
        .select(diff.alias("__diff"))
        .agg(F.max("__diff")).first()[0]
    )
    g.unpersist()
    d = round(float(d_num) / (float(n_ref) * float(n_cur)), round_dp)
    spark = ref.sparkSession
    out = spark.createDataFrame(
        [(d, int(d_num), n_ref, n_cur)],
        "d_stat double, d_num bigint, n_ref bigint, n_cur bigint",
    )
    return DaskFrame(out)


def chi2_drift(reference, current, cat_col: str, round_dp: int = 6):
    """Two-sample chi-square homogeneity statistic over a categorical
    column → one-row DaskFrame(chi2, dof, n_ref, n_cur): the 2×C
    contingency form chi2 = Σ_cells (O − E)²/E with E from the
    margins — the categorical companion of the numeric PSI/KS gates
    (event-type mix shift, language mix shift, source mix shift).

    One category-keyed count per side (map-side combined; the driver
    sees ≤ |categories| scalars per side); the float fold runs
    driver-side in sorted-category order (ref cell then cur cell per
    category — the exact left-to-right chain the oracle's list_reduce
    replays). dof = C − 1 over the union category set."""
    ref = reference._sdf if isinstance(reference, DaskFrame) else reference
    cur = current._sdf if isinstance(current, DaskFrame) else current

    def counts(sdf):
        return {
            r["k"]: r["c"]
            for r in sdf.filter(F.col(cat_col).isNotNull())
            .groupBy(F.col(cat_col).alias("k"))
            .agg(F.count(F.lit(1)).alias("c")).collect()
        }

    rc, cc = counts(ref), counts(cur)
    n_ref, n_cur = sum(rc.values()), sum(cc.values())
    if n_ref == 0 or n_cur == 0:
        raise ValueError("chi2_drift: empty reference or current sample")
    cats = sorted(set(rc) | set(cc))
    n = float(n_ref + n_cur)
    chi2 = 0.0
    for k in cats:
        row = float(rc.get(k, 0) + cc.get(k, 0))
        e_ref = row * n_ref / n
        e_cur = row * n_cur / n
        d1 = rc.get(k, 0) - e_ref
        d2 = cc.get(k, 0) - e_cur
        # per-category cell pair sums FIRST, then joins the fold —
        # (a + t1) + t2 and a + (t1 + t2) differ at the ulp level,
        # and the oracle folds one v per category
        chi2 = chi2 + ((d1 * d1) / e_ref + (d2 * d2) / e_cur)
    spark = ref.sparkSession
    out = spark.createDataFrame(
        [(round(chi2, round_dp), len(cats) - 1, int(n_ref), int(n_cur))],
        "chi2 double, dof int, n_ref bigint, n_cur bigint",
    )
    return DaskFrame(out)


def cusum_alarms(events, ts_col: str = "ts", slack: float = 0.5,
                 threshold: float = 5.0, round_dp: int = 6):
    """One-sided CUSUM changepoint detection over the DAILY event-count
    series → DaskFrame(day, x, stat, alarm): S_t = max(0, S_{t-1} +
    (x_t − μ − k·σ)) with μ, σ the series mean/stddev (rounded
    driver scalars) and k the slack — the classic sequential
    drift/changepoint monitor (Page 1954). Alarm when S_t > h·σ.

    The recurrence looks sequential but decomposes: S_t = P_t −
    min(0, min_{j≤t} P_j) with P the prefix sums of (x − μ − k·σ), so
    it lowers to cumsum + running-min — BOTH distributed keyless
    prefix scans (range-bucket + per-bucket window + driver-combined
    offsets; the day series is dates-bounded, but the same plan holds
    for any resolution).

    Exactness: the scans run on SCALED INT64 — the drift term
    μ + k·σ rounds once to micro-units, then every prefix sum and
    min is exact integer arithmetic (associative, so bucket
    boundaries and partition order cannot move a value at the ulp
    level the way double prefix sums would); the one float step per
    row is the final /1e6, and the alarm compares scaled
    integers."""
    sdf = events._sdf if isinstance(events, DaskFrame) else events
    daily = (
        sdf.filter(F.col(ts_col).isNotNull())
        .groupBy(F.col(ts_col).cast("date").cast("string").alias("day"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    )
    # μ and σ derive from EXACT integer sums with one pinned float
    # formula — a builtin stddev_pop differs between engines at the
    # ulp level (different moment accumulations), which would move
    # drift6 by a micro-unit and break the replay
    daily = daily.persist()
    sx, sx2, nd = daily.agg(
        F.sum("x"), F.sum(F.col("x") * F.col("x")), F.count(F.lit(1))
    ).first()
    if not nd:
        daily.unpersist()
        raise ValueError("cusum_alarms: no events")
    mu = float(sx) / float(nd)
    var = float(sx2) / float(nd) - mu * mu
    sd = math.sqrt(var) if var > 0 else 0.0
    drift6 = int(math.floor(
        (mu + float(slack) * sd) * 1_000_000 + 0.5
    ))
    h6 = int(math.floor(float(threshold) * sd * 1_000_000 + 0.5))
    staged = daily.withColumn(
        "__d", F.col("x") * F.lit(1_000_000) - F.lit(drift6)
    )
    # FUSED cumsum + running-min on ONE bucketing: the two chained
    # cumulative() calls each re-sampled range cuts and re-ran the
    # day aggregate (2.8s -> ~1.5s at sf0.1, identical output).
    # Within a bucket the window yields local prefix sums __lp and
    # their local running min; across buckets the driver combines
    # per-bucket (sum, min-of-prefix) into a sum offset and a
    # min-so-far offset — exact int64 arithmetic throughout, so the
    # fused scan is bit-identical to the chained form.
    from pyspark.sql import Window
    from pyspark.sql.types import (IntegerType, LongType, StructField,
                                   StructType)

    from dask_spark.operators.sort import _pin, range_bucket

    bucketed, _nb = range_bucket(staged, "day")
    w = (
        Window.partitionBy("__pid").orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ranged = _pin(
        bucketed.withColumn("__lp", F.sum("__d").over(w))
    )
    per_bucket = {
        r["__pid"]: (int(r["s"]), int(r["mn"]))
        for r in ranged.groupBy("__pid").agg(
            F.sum("__d").alias("s"), F.min("__lp").alias("mn")
        ).collect()
    }
    offsets, acc_sum, acc_min = [], 0, None
    for pid in sorted(per_bucket):
        offsets.append((pid, acc_sum, acc_min))
        s, mn = per_bucket[pid]
        cand = acc_sum + mn
        acc_min = cand if acc_min is None else min(acc_min, cand)
        acc_sum += s
    off_df = sdf.sparkSession.createDataFrame(
        offsets,
        StructType([StructField("__pid", IntegerType()),
                    StructField("__os", LongType()),
                    StructField("__om", LongType())]),
    )
    p = F.col("__lp") + F.col("__os")
    local_runmin = F.min("__lp").over(w) + F.col("__os")
    m = F.when(
        F.col("__om").isNull(), local_runmin
    ).otherwise(F.least(F.col("__om"), local_runmin))
    s6 = p - F.least(F.lit(0).cast("bigint"), m)
    out = (
        ranged.join(F.broadcast(off_df), "__pid")
        .select(
            "day", "x",
            F.round(s6.cast("double") / F.lit(1_000_000.0),
                    round_dp).alias("stat"),
            (s6 > F.lit(h6)).alias("alarm"),
        )
    )
    # ranged was materialized by the per-bucket collect and stays in
    # the _pin FIFO (the output plan reads it); daily's cache is only
    # reachable through it, so it can release now
    daily.unpersist()
    return DaskFrame(out)


def ewma_smooth(events, value_col: str = "value", ts_col: str = "ts",
                group_col: str = "event_type", alpha: float = 0.3,
                round_dp: int = 6):
    """Exponentially-weighted moving average of the DAILY mean of
    ``value_col`` per ``group_col`` → DaskFrame(group, day, x, ewma):
    y_t = alpha*x_t + (1-alpha)*y_{t-1}, seeded y_0 = x_0 — the
    classic noise-robust trend line the drift family (PSI/KS/chi2/
    CUSUM) alarms against.

    100 TB shape: the raw stream collapses map-side into ONE
    (group, day)-keyed aggregate (exchange <= groups*days partials per
    partition at any input size); the sequential recursion then runs
    IN-ROW over each group's bounded day series (a decade of days =
    ~3.7k elements), so no window ever sees the raw events and no
    state scales with input.

    Exactness: daily means derive from an exact int64 micro-unit sum
    (value rounds once to 6 dp — floor(x*1e6 + 0.5), the CUSUM
    conversion, so partition order can never move a bit) with one
    pinned float division chain; the EWMA fold is the same
    left-to-right alpha*x + (1-alpha)*y chain the oracle's recursive
    CTE replays, so results are bit-identical across engines."""
    if not 0.0 < alpha <= 1.0:
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")
    sdf = events._sdf if isinstance(events, DaskFrame) else events
    v = F.col(value_col)
    scaled = F.expr(
        f"CAST(floor(round({value_col}, 6) * 1000000 + 0.5) AS BIGINT)"
    )
    daily = (
        sdf.filter(F.col(ts_col).isNotNull() & v.isNotNull())
        .groupBy(
            F.col(group_col).alias("grp"),
            F.col(ts_col).cast("date").cast("string").alias("day"),
        )
        .agg(
            F.sum(scaled).alias("s6"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
        )
    )
    x = (
        F.col("s6").cast("double") / F.col("n").cast("double")
        / F.lit(1_000_000.0)
    )
    series = daily.select("grp", F.struct("day", x.alias("x")).alias("__e"))
    packed = series.groupBy("grp").agg(
        F.array_sort(F.collect_list("__e")).alias("__s")
    )
    # in-row scan: acc = (y, rows); each step folds the recursion and
    # appends (day, x, ewma). y < 0 sentinel never occurs naturally
    # because the seed uses a null marker via empty rows.
    a = float(alpha)
    scan = F.aggregate(
        F.col("__s"),
        F.struct(
            F.lit(None).cast("double").alias("y"),
            F.expr(
                "CAST(array() AS "
                "ARRAY<STRUCT<day: STRING, x: DOUBLE, ewma: DOUBLE>>)"
            ).alias("rows"),
        ),
        lambda acc, e: F.struct(
            F.when(
                acc["y"].isNull(), e["x"]
            ).otherwise(
                F.lit(a) * e["x"] + F.lit(1.0 - a) * acc["y"]
            ).alias("y"),
            F.array_append(
                acc["rows"],
                F.struct(
                    e["day"].alias("day"),
                    e["x"].alias("x"),
                    F.when(
                        acc["y"].isNull(), e["x"]
                    ).otherwise(
                        F.lit(a) * e["x"] + F.lit(1.0 - a) * acc["y"]
                    ).alias("ewma"),
                ),
            ).alias("rows"),
        ),
        lambda acc: acc["rows"],
    )
    out = (
        packed.select("grp", F.explode(scan).alias("__r"))
        .select(
            F.col("grp").alias(group_col),
            F.col("__r.day").alias("day"),
            F.round(F.col("__r.x"), round_dp).alias("x"),
            F.round(F.col("__r.ewma"), round_dp).alias("ewma"),
        )
    )
    return DaskFrame(out)


def linear_trend(events, ts_col: str = "ts",
                 group_col: str = "event_type", round_dp: int = 6):
    """Per-group OLS trend of the DAILY event-count series →
    DaskFrame(group, n_days, slope, intercept, r2): is this event
    type growing, and how fast — the monitoring companion of the
    drift gates (they say "moved", this says "moving at b/day").

    100 TB shape: the raw stream collapses map-side into ONE
    (group, day) count, then the five regression moments (Σx, Σy,
    Σxy, Σx², Σy² with x = epoch-day, y = count) collapse into a
    groups-bounded second aggregate — EXACT int64 end to end (epoch
    days ~2e4, daily counts bounded by partition math; n·Σxy stays
    under 2^63 for any realistic series), so partition order cannot
    move a bit. The only float steps are the closed-form divisions:
    slope = (nΣxy−ΣxΣy)/(nΣx²−(Σx)²), intercept = (Σy−slope·Σx)/n,
    r² = num²/(den·(nΣy²−(Σy)²)) — each one pinned expression
    replayed identically by the oracle. Single-day groups emit null
    slope/intercept/r2 (den = 0); zero-variance-y groups emit r2
    null (0/0)."""
    sdf = events._sdf if isinstance(events, DaskFrame) else events
    daily = (
        sdf.filter(F.col(ts_col).isNotNull())
        .groupBy(
            F.col(group_col).alias("grp"),
            F.col(ts_col).cast("date").alias("day"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("y"))
        .select(
            "grp",
            F.datediff(F.col("day"), F.lit("1970-01-01").cast("date"))
            .cast("bigint").alias("x"),
            "y",
        )
    )
    m = daily.groupBy("grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    deny = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    slope = F.when(
        den != 0, num.cast("double") / den.cast("double")
    )
    intercept = F.when(
        den != 0,
        (F.col("sy").cast("double") - slope * F.col("sx").cast("double"))
        / F.col("n").cast("double"),
    )
    r2 = F.when(
        (den != 0) & (deny != 0),
        (num.cast("double") * num.cast("double"))
        / (den.cast("double") * deny.cast("double")),
    )
    out = m.select(
        F.col("grp").alias(group_col),
        F.col("n").alias("n_days"),
        F.round(slope, round_dp).alias("slope"),
        F.round(intercept, round_dp).alias("intercept"),
        F.round(r2, round_dp).alias("r2"),
    )
    return DaskFrame(out)


def mutual_information(frame, col_x: str, col_y: str,
                       round_dp: int = 6):
    """Mutual information between two categorical columns → one-row
    DaskFrame(mi_nats, n, cells): MI = Σ p(x,y)·ln(p(x,y)/(p(x)p(y)))
    in nats over exact joint counts — the feature-selection /
    redundancy measure beside the chi2 drift gate (chi2 asks "are
    these dependent", MI says "by how many bits").

    One (x, y)-keyed count (map-side combined; the driver sees
    ≤ |X|·|Y| exact int64 cells, margins derived from the same
    cells), then the float fold runs driver-side in sorted-cell order
    — each term one pinned expression of exact integer ratios, the
    same left-to-right chain the oracle's list_reduce replays. Null
    categories drop (pandas crosstab semantics)."""
    sdf = frame._sdf if isinstance(frame, DaskFrame) else frame
    cells = {
        (r["x"], r["y"]): int(r["c"])
        for r in sdf.filter(
            F.col(col_x).isNotNull() & F.col(col_y).isNotNull()
        )
        .groupBy(F.col(col_x).alias("x"), F.col(col_y).alias("y"))
        .agg(F.count(F.lit(1)).alias("c")).collect()
    }
    n = sum(cells.values())
    if not n:
        raise ValueError("mutual_information: no non-null pairs")
    mx: dict = {}
    my: dict = {}
    for (x, y), c in cells.items():
        mx[x] = mx.get(x, 0) + c
        my[y] = my.get(y, 0) + c
    mi = 0.0
    for x, y in sorted(cells):
        c = cells[(x, y)]
        # p_xy * ln(p_xy / (p_x * p_y)) with counts kept integral as
        # long as possible: ln((c * n) / (mx * my)) — one division
        mi = mi + (c / float(n)) * math.log(
            (float(c) * float(n)) / (float(mx[x]) * float(my[y]))
        )
    spark = sdf.sparkSession
    out = spark.createDataFrame(
        [(round(mi, round_dp), n, len(cells))],
        "mi_nats double, n bigint, cells int",
    )
    return DaskFrame(out)


BENFORD_P = [math.log10(1.0 + 1.0 / d) for d in range(1, 10)]


def benford_digits(frame, value_col: str, round_dp: int = 6):
    """Benford first-digit audit → DaskFrame(digit, n, share,
    benford_p, deviation) for digits 1-9 — the classic
    fabricated-/corrupted-numbers screen (naturally-grown magnitudes
    follow P(d) = log10(1 + 1/d); synthetic or truncated feeds
    don't). Rows with value < 1 are excluded (their first significant
    digit needs scale normalization — documented contract).

    The digit is EXACT string arithmetic on the floored int64 value
    (both engines format integers identically — never floating
    log10), one 9-key map-side-combined count, and share/deviation
    are single pinned divisions against python-computed Benford
    literals embedded in both engines. Missing digits emit n = 0
    rows, so the schema is always 9 rows."""
    sdf = frame._sdf if isinstance(frame, DaskFrame) else frame
    x = F.col(value_col).cast("double")
    digit = F.substring(
        F.expr(f"CAST(CAST(floor({value_col}) AS BIGINT) AS STRING)"),
        1, 1,
    ).cast("int")
    counts = {
        int(r["d"]): int(r["c"])
        for r in sdf.filter(x.isNotNull() & (x >= 1))
        .select(digit.alias("d"))
        .groupBy("d").agg(F.count(F.lit(1)).alias("c")).collect()
    }
    n = sum(counts.values())
    if not n:
        raise ValueError("benford_digits: no values >= 1")
    rows = []
    for d in range(1, 10):
        c = counts.get(d, 0)
        share = round(c / float(n), round_dp)
        p = BENFORD_P[d - 1]
        rows.append((d, c, share, round(p, round_dp),
                     round(c / float(n) - p, round_dp)))
    spark = sdf.sparkSession
    out = spark.createDataFrame(
        rows,
        "digit int, n bigint, share double, benford_p double, "
        "deviation double",
    )
    return DaskFrame(out)


def gini_coefficient(frame, value_col: str, key_col: str,
                     round_dp: int = 6, exact: bool = True,
                     bins: int = 8192):
    """Gini coefficient of ``value_col`` aggregated per ``key_col`` →
    one-row DaskFrame(gini, n_keys): G = 2·Σ(i·x_(i)) / (n·Σx) −
    (n+1)/n over the ascending-sorted per-key totals — the inequality
    measure ("do 1% of customers carry 50% of spend"; for a corpus,
    token-mass concentration across sources/domains).

    EXACT pipeline: per-key totals sum in micro-unit int64 (one
    key-bounded aggregate), the global rank i rides the DISTRIBUTED
    keyless prefix scan over (total, key) order, Σ i·x accumulates in
    DECIMAL(38,0) (i·x outgrows int64 past ~1e6 keys — the
    spearman_corr lesson), and the closing formula combines exact
    python integers with one float division. Ties are order-safe:
    equal totals contribute x·Σi whatever their relative order.

    100 TB escalation path (``exact=False``): the exact global rank
    runs over N_KEYS rows — unbounded for high-cardinality keys. The
    binned mode histograms the per-key totals into ``bins``
    fixed-width buckets (reduce_quantile_hist arithmetic, oracle
    bit-identical) and treats each bucket as one tie block of its
    mean: a bucket with count c, mass m6, and a preceding keys before
    it contributes exactly m6·(2a+c+1) to 2·Σi·x (Σi over the block ×
    the block mean), so G folds from ≤ bins collected rows in exact
    python integers. Error ≤ one bucket's mass displacement.
    Crossover: exact below ~1e7 keys; binned beyond (SURVEY §4)."""
    sdf = frame._sdf if isinstance(frame, DaskFrame) else frame
    v6 = F.expr(
        f"CAST(floor(round({value_col}, 6) * 1000000 + 0.5) AS BIGINT)"
    )
    # Gini is defined for non-negative distributions; negative rows
    # drop by contract (and the hex sort key below requires x6 >= 0)
    per = (
        sdf.filter(F.col(value_col).isNotNull()
                   & (F.col(value_col) >= 0)
                   & F.col(key_col).isNotNull())
        .groupBy(F.col(key_col).alias("k"))
        .agg(F.sum(v6).alias("x6"))
    )
    if not exact:
        B = int(bins)
        spark = sdf.sparkSession
        st = per.agg(F.min("x6").alias("mn"), F.max("x6").alias("mx")).first()
        if st["mn"] is None:
            raise ValueError("gini_coefficient: no non-null keys")
        mn, mx = int(st["mn"]), int(st["mx"])
        if mx == mn:
            bucket = F.lit(0).cast("int")
        else:
            w = (float(mx) - float(mn)) / B
            bucket = F.least(
                F.greatest(
                    F.floor(
                        (F.col("x6").cast("double") - F.lit(float(mn)))
                        / F.lit(w)
                    ),
                    F.lit(0),
                ),
                F.lit(B - 1),
            ).cast("int")
        rows = (
            per.select(bucket.alias("b"), "x6")
            .groupBy("b")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("c"),
                F.sum(F.col("x6").cast("decimal(38,0)")).alias("m6"),
            )
            .collect()
        )
        n = a = 0
        t6 = s2 = 0  # exact python ints: T6 = Σ m6; S2 = Σ m6·(2a+c+1)
        for r in sorted(rows, key=lambda r: r["b"]):
            c, m6 = int(r["c"]), int(r["m6"])
            s2 += m6 * (2 * a + c + 1)
            t6 += m6
            a += c
            n += c
        if n == 0:
            raise ValueError("gini_coefficient: no non-null keys")
        gini = None if t6 == 0 else round(
            float(s2) / (float(n) * float(t6))
            - (float(n) + 1.0) / float(n),
            round_dp,
        )
        return DaskFrame(spark.createDataFrame(
            [(gini, n)], "gini double, n_keys bigint"
        ))
    # dense global index: rank = row position in (x6, k) order. r15:
    # fused per-bucket form (guide §2.4) — ONE windowed per-bucket
    # aggregate collects (count, Σx6, Σ local_i·x6) per range bucket
    # and the driver combines with exact exclusive-prefix counts:
    # Σ i·x = Σ_b [s_b + a_b·t_b], a_b = rows before bucket b. This
    # replaces the cumulative() machinery's totals collect + second
    # full pass + broadcast join with a single pass after the cuts
    # job; all arithmetic stays exact integers, so the result is
    # bit-identical to the chained form.
    from pyspark.sql import Window

    from dask_spark.operators.sort import range_bucket

    staged = per.select(
        "k", "x6",
        F.concat(
            F.lpad(F.conv(F.col("x6").cast("string"), 10, 16), 16, "0"),
            F.col("k").cast("string"),
        ).alias("__ord"),
    ).persist()  # aggregate input: cuts job + scan share one compute
    ranged, _nb = range_bucket(staged, "__ord")
    w = Window.partitionBy("__pid").orderBy("__ord")
    li = F.row_number().over(w).cast("decimal(38,0)")
    per_b = {
        r["__pid"]: (int(r["c"]), int(r["t"]), int(r["s"]))
        for r in ranged.withColumn("__li", li)
        .groupBy("__pid").agg(
            F.count(F.lit(1)).cast("bigint").alias("c"),
            F.sum(F.col("x6").cast("decimal(38,0)")).alias("t"),
            F.sum(F.col("__li") * F.col("x6").cast("decimal(38,0)"))
            .alias("s"),
        ).collect()
    }
    staged.unpersist()
    n = t = s = a = 0
    for pid in sorted(per_b):
        cb, tb, sb = per_b[pid]
        s += sb + a * tb
        a += cb
        n += cb
        t += tb
    if n == 0:
        raise ValueError("gini_coefficient: no non-null keys")
    if t == 0:
        gini = None
    else:
        gini = round(
            2.0 * float(s) / (float(n) * float(t))
            - (float(n) + 1.0) / float(n),
            round_dp,
        )
    spark = sdf.sparkSession
    out = spark.createDataFrame(
        [(gini, n)], "gini double, n_keys bigint"
    )
    return DaskFrame(out)


def trend_residual_outliers(events, ts_col: str = "ts",
                            group_col: str = "event_type",
                            k: int = 10, round_dp: int = 6):
    """Top-k anomalous days vs each group's OLS trend →
    DaskFrame(group, day, x, expected, residual): fit y = a + b·x
    per group on the daily counts (the linear_trend moments), then
    rank days by |y − ŷ| — "which days broke their trend line", the
    anomaly triage view on top of the drift gates.

    Fully IN-PLAN exactness: the five moments are exact int64
    aggregates, slope/intercept are single pinned float expressions
    of them (bit-identical across engines — no driver literals), the
    residual is one more pinned chain, and the ranking key is
    |residual| on those bit-identical doubles — so TakeOrdered k and
    the oracle's ORDER BY ... LIMIT k select the same rows
    ((group, day) tie-break). Single-day groups drop (no trend).
    Rounding touches OUTPUT columns only."""
    sdf = events._sdf if isinstance(events, DaskFrame) else events
    daily = (
        sdf.filter(F.col(ts_col).isNotNull())
        .groupBy(
            F.col(group_col).alias("grp"),
            F.col(ts_col).cast("date").cast("string").alias("day"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("y"))
        .withColumn(
            "x",
            F.datediff(F.col("day").cast("date"),
                       F.lit("1970-01-01").cast("date")).cast("bigint"),
        )
    )
    m = daily.groupBy("grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").alias("sx"), F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    stats = m.filter(den != 0).select(
        "grp",
        (num.cast("double") / den.cast("double")).alias("__b"),
        "n", "sx", "sy", "sxy", "sxx",
    ).withColumn(
        "__a",
        (F.col("sy").cast("double")
         - F.col("__b") * F.col("sx").cast("double"))
        / F.col("n").cast("double"),
    ).select("grp", "__a", "__b")
    scored = (
        daily.join(F.broadcast(stats), "grp")
        .withColumn(
            "__exp", F.col("__a") + F.col("__b") * F.col("x").cast("double")
        )
        .withColumn("__res", F.col("y").cast("double") - F.col("__exp"))
    )
    out = (
        scored.orderBy(
            F.abs(F.col("__res")).desc(), F.col("grp"), F.col("day")
        )
        .limit(int(k))
        .select(
            F.col("grp").alias(group_col), "day",
            F.col("y").alias("x"),
            F.round(F.col("__exp"), round_dp).alias("expected"),
            F.round(F.col("__res"), round_dp).alias("residual"),
        )
    )
    return DaskFrame(out)


def ab_proportion_test(frame, group_expr, success_expr,
                       round_dp: int = 6):
    """Two-proportion z-test → one-row DaskFrame(n_a, k_a, n_b, k_b,
    rate_a, rate_b, lift, z): the A/B readout (did the treatment move
    the conversion rate, and by how many sigmas) — group_expr must
    yield 'A'/'B' labels, success_expr a boolean.

    ONE 2-key aggregate of exact int64 (n, k) per arm; rates, lift
    and z = (p_a − p_b)/sqrt(p̂(1−p̂)(1/n_a + 1/n_b)) are pinned
    float chains of those four integers — bit-identical across
    engines. z is null when either arm is empty or the pooled rate
    is degenerate (0 or 1 — no variance)."""
    sdf = frame._sdf if isinstance(frame, DaskFrame) else frame
    g = group_expr if not isinstance(group_expr, str) \
        else F.expr(group_expr)
    s = success_expr if not isinstance(success_expr, str) \
        else F.expr(success_expr)
    rows = {
        r["g"]: (int(r["n"]), int(r["k"]))
        for r in sdf.select(g.alias("g"), s.cast("int").alias("s"))
        .filter(F.col("g").isin("A", "B") & F.col("s").isNotNull())
        .groupBy("g")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("s").alias("k"))
        .collect()
    }
    n_a, k_a = rows.get("A", (0, 0))
    n_b, k_b = rows.get("B", (0, 0))
    rate_a = k_a / float(n_a) if n_a else None
    rate_b = k_b / float(n_b) if n_b else None
    lift = (rate_a - rate_b) if n_a and n_b else None
    z = None
    if n_a and n_b:
        p = (k_a + k_b) / (float(n_a) + float(n_b))
        if 0.0 < p < 1.0:
            z = (rate_a - rate_b) / math.sqrt(
                p * (1.0 - p) * (1.0 / n_a + 1.0 / n_b)
            )
    r6 = lambda v: None if v is None else round(v, round_dp)  # noqa: E731
    spark = sdf.sparkSession
    out = spark.createDataFrame(
        [(n_a, k_a, n_b, k_b, r6(rate_a), r6(rate_b), r6(lift), r6(z))],
        "n_a bigint, k_a bigint, n_b bigint, k_b bigint, "
        "rate_a double, rate_b double, lift double, z double",
    )
    return DaskFrame(out)


def theil_sen_trend(events, ts_col: str = "ts",
                    group_col: str = "event_type", round_dp: int = 6):
    """Theil–Sen robust trend per group → DaskFrame(group, n_days,
    n_pairs, slope): the LOWER MEDIAN of all pairwise daily-count
    slopes (y_j − y_i)/(x_j − x_i), x_i epoch days — the
    breakdown-resistant alternative to OLS (a 29% outlier fraction
    cannot move it; linear_trend's least squares chases every spike).

    Scale shape: the raw stream collapses map-side into the
    (group, day) count first, so the O(days²) pairwise stage runs on
    the BOUNDED day series (a decade ≈ 3.7k days ≈ 7M pairs per
    group, exchanged as (group, slope) scalars) — never on events.
    Each slope is ONE division of exact int64 deltas (bit-identical
    across engines); the lower median is the ⌈m/2⌉-th smallest by
    (slope, i, j) — a deterministic selection both engines replay via
    rank. Single-day groups drop."""
    from pyspark.sql import Window

    sdf = events._sdf if isinstance(events, DaskFrame) else events
    daily = (
        sdf.filter(F.col(ts_col).isNotNull())
        .groupBy(
            F.col(group_col).alias("grp"),
            F.col(ts_col).cast("date").alias("day"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("y"))
        .select(
            "grp",
            F.datediff(F.col("day"), F.lit("1970-01-01").cast("date"))
            .cast("bigint").alias("x"),
            "y",
        )
    )
    a = daily.select("grp", F.col("x").alias("xi"), F.col("y").alias("yi"))
    b = daily.select("grp", F.col("x").alias("xj"), F.col("y").alias("yj"))
    pairs = (
        a.join(b, "grp")
        .filter(F.col("xi") < F.col("xj"))
        .select(
            "grp", "xi", "xj",
            (
                (F.col("yj") - F.col("yi")).cast("double")
                / (F.col("xj") - F.col("xi")).cast("double")
            ).alias("s"),
        )
    )
    w = Window.partitionBy("grp").orderBy("s", "xi", "xj")
    ranked = pairs.withColumn("__rn", F.row_number().over(w))
    counts = pairs.groupBy("grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs")
    )
    days = daily.groupBy("grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days")
    )
    med = (
        ranked.join(F.broadcast(counts), "grp")
        .filter(F.col("__rn") == F.ceil(F.col("n_pairs") / 2))
        .select("grp", F.round(F.col("s"), round_dp).alias("slope"),
                "n_pairs")
    )
    out = (
        days.join(med, "grp")
        .select(F.col("grp").alias(group_col), "n_days", "n_pairs",
                "slope")
    )
    return DaskFrame(out)


def rate_with_wilson(events, flag_expr, ts_col: str = "ts",
                     z: float = 1.96, round_dp: int = 6):
    """Per-day flagged-event rate with Wilson score bounds →
    DaskFrame(day, n, flagged, rate, lo, hi): the monitoring readout
    that stays honest on thin days (a 1/3 error day shows its huge
    interval where the raw rate panics) — Wilson (1927), the interval
    agresti-coull/prop.test default.

    One day-keyed exact (n, k) count; rate and both bounds are one
    pinned float chain per row of the bounded per-day table:
    center = (p̂ + z²/2n) / (1 + z²/n), half = z·√(p̂(1−p̂)/n +
    z²/4n²) / (1 + z²/n)."""
    sdf = events._sdf if isinstance(events, DaskFrame) else events
    flag = flag_expr if not isinstance(flag_expr, str) \
        else F.expr(flag_expr)
    per = (
        sdf.filter(F.col(ts_col).isNotNull())
        .groupBy(F.col(ts_col).cast("date").cast("string").alias("day"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(flag.cast("int")).cast("bigint").alias("flagged"),
        )
    )
    zz = float(z) * float(z)
    n = F.col("n").cast("double")
    p = F.col("flagged").cast("double") / n
    denom = F.lit(1.0) + F.lit(zz) / n
    center = (p + F.lit(zz) / (F.lit(2.0) * n)) / denom
    half = (
        F.lit(float(z))
        * F.sqrt(p * (F.lit(1.0) - p) / n
                 + F.lit(zz) / (F.lit(4.0) * n * n))
        / denom
    )
    out = per.select(
        "day", "n", "flagged",
        F.round(p, round_dp).alias("rate"),
        F.round(F.greatest(center - half, F.lit(0.0)), round_dp)
        .alias("lo"),
        F.round(F.least(center + half, F.lit(1.0)), round_dp)
        .alias("hi"),
    )
    return DaskFrame(out)


def psi_drift_multi(reference, current, cols, bins: int = 20):
    """Feature-sweep PSI → DaskFrame(column, psi, n_ref, n_cur,
    n_buckets), one row per monitored column — the production drift
    monitor checks EVERY feature per ingest batch, and running
    psi_drift k times costs 2k scans. This sweep is scan-bounded:
    ONE reference stats aggregate (min/max/count for all k columns),
    then ONE exploded (column, bucket) count per side — 2 + 1 scans
    total for any k, exchanges ≤ k·bins rows.

    Per-column arithmetic is EXACTLY psi_drift's (reference-anchored
    buckets, tail clamping, Laplace-smoothed shares, bucket-ordered
    left-to-right fold), so each row matches the single-column op
    bit-for-bit (pinned in tests). Columns with an empty reference
    get a null psi row instead of the single-column op's raise — a
    sweep must not die on one dead feature."""
    import math

    if bins < 2:
        raise ValueError(f"bins must be >= 2, got {bins}")
    cols = list(cols)
    if not cols:
        raise ValueError("psi_drift_multi: no columns given")
    ref = reference._sdf if isinstance(reference, DaskFrame) else reference
    cur = current._sdf if isinstance(current, DaskFrame) else current
    B = int(bins)
    stats_aggs = []
    for i, c in enumerate(cols):
        x = F.col(c).cast("double")
        stats_aggs += [
            F.min(x).alias(f"__mn_{i}"),
            F.max(x).alias(f"__mx_{i}"),
            F.count(x).alias(f"__n_{i}"),
        ]
    stats_row = ref.agg(*stats_aggs).first()
    widths, mins, n_refs = {}, {}, {}
    for i, c in enumerate(cols):
        n = int(stats_row[f"__n_{i}"] or 0)
        n_refs[i] = n
        if n:
            mn = float(stats_row[f"__mn_{i}"])
            mx = float(stats_row[f"__mx_{i}"])
            mins[i] = mn
            widths[i] = (mx - mn) / B if mx > mn else 1.0

    def side_counts(sdf) -> dict[tuple[int, int], int]:
        structs = []
        for i, c in enumerate(cols):
            if i not in mins:
                continue
            x = F.col(c).cast("double")
            b = F.least(
                F.greatest(
                    F.floor((x - F.lit(mins[i])) / F.lit(widths[i])),
                    F.lit(0),
                ),
                F.lit(B - 1),
            ).cast("int")
            structs.append(F.struct(
                F.lit(i).alias("i"),
                F.when(x.isNotNull(), b).alias("b"),
            ))
        if not structs:
            return {}
        rows = (
            sdf.select(F.explode(F.array(*structs)).alias("s"))
            .select("s.i", "s.b").filter(F.col("b").isNotNull())
            .groupBy("i", "b").agg(F.count(F.lit(1)).alias("c"))
            .collect()
        )
        return {(r["i"], r["b"]): int(r["c"]) for r in rows}

    rc = side_counts(ref)
    cc = side_counts(cur)
    out_rows = []
    for i, c in enumerate(cols):
        n_ref = n_refs[i]
        n_cur = sum(v for (j, _), v in cc.items() if j == i)
        if not n_ref or not n_cur:
            out_rows.append((c, None, n_ref, n_cur, B))
            continue
        psi = 0.0
        for b in range(B):
            p = (rc.get((i, b), 0) + 0.5) / (n_ref + 0.5 * B)
            q = (cc.get((i, b), 0) + 0.5) / (n_cur + 0.5 * B)
            psi = psi + (p - q) * math.log(p / q)
        out_rows.append((c, round(psi, 6), n_ref, n_cur, B))
    spark = ref.sparkSession
    return DaskFrame(spark.createDataFrame(
        out_rows,
        "column string, psi double, n_ref bigint, n_cur bigint, "
        "n_buckets int",
    ))
