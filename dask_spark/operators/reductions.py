"""Frame-level reductions (reference: dask/dataframe/dask_expr/_reductions.py
ApplyConcatApply and dask/dataframe/core.py describe).

All reductions are declarative aggs → Spark partial+final hash aggregate
(map-side combine), identical in shape to dask's ACA tree-reduce but
JVM-codegen'd."""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Window


def describe(frame, percentiles=None, exact: bool = True):
    """Long-form describe: one row per numeric column with
    count/mean/std/min/<quantiles>/max. Long form (not pandas' wide
    form) so the schema is stable for the oracle compare.

    ``percentiles`` (reference dask_expr/_describe.py parameter):
    quantile levels to report instead of the default
    (0.25, 0.5, 0.75); labels are q25/q50/q75-style (q5_5 for 0.055),
    so the default schema is unchanged.

    ``exact=False`` (the 100 TB default to reach for): Spark's exact
    ``percentile()`` buffers every value per column in one
    aggregation buffer — with k numeric columns that is k full-column
    buffers in a single task. The approx mode uses the native GK
    sketch (``percentile_approx``, bounded state) — dask's own
    describe is likewise approximate (dask_expr/_describe.py rides
    partitionquantiles), so this mode IS the reference semantics;
    exact stays the default only because the oracle compare needs
    quantile_cont-parity doubles."""
    from dask_spark.frame import DaskFrame

    pcts = (
        [0.25, 0.5, 0.75] if percentiles is None
        else sorted(float(p) for p in percentiles)
    )
    if any(not 0.0 <= p <= 1.0 for p in pcts):
        raise ValueError("percentiles must be in [0, 1]")
    labels = [("q" + f"{p * 100:g}".replace(".", "_")) for p in pcts]
    if len(set(labels)) != len(labels):
        raise ValueError("duplicate percentiles")
    cols = frame._numeric_cols()
    sdf = frame._sdf
    # one pass: aggregate every stat for every column, then unpivot
    aggs = []
    for c in cols:
        aggs += [
            F.count(c).alias(f"{c}__count"),
            F.avg(c).alias(f"{c}__mean"),
            F.stddev_samp(c).alias(f"{c}__std"),
            F.min(c).cast("double").alias(f"{c}__min"),
            *[
                (F.percentile(c, F.lit(p)) if exact
                 else F.percentile_approx(c, F.lit(p), F.lit(10000)))
                .cast("double").alias(f"{c}__{lab}")
                for p, lab in zip(pcts, labels)
            ],
            F.max(c).cast("double").alias(f"{c}__max"),
        ]
    wide = sdf.agg(*aggs)
    structs = [
        F.struct(
            F.lit(c).alias("column"),
            F.col(f"{c}__count").cast("bigint").alias("count"),
            F.col(f"{c}__mean").alias("mean"),
            F.col(f"{c}__std").alias("std"),
            F.col(f"{c}__min").alias("min"),
            *[F.col(f"{c}__{lab}").alias(lab) for lab in labels],
            F.col(f"{c}__max").alias("max"),
        )
        for c in cols
    ]
    out = wide.select(F.explode(F.array(*structs)).alias("s")).select("s.*")
    return DaskFrame(out)


def histogram(frame, col: str, bins: int = 10,
              range: tuple[float, float] | None = None,
              weights: str | None = None, density: bool = False):
    """dask.array.histogram parity: fixed-width histogram as ONE
    map-side-combined groupBy over floor((x-lo)/w) (clamped to the last
    bin, values outside [lo, hi] dropped — numpy semantics). When
    ``range`` is omitted a first tiny agg job finds (min, max), same as
    dask needing known range for lazy histograms.

    ``weights``: a column name — each sample contributes its weight
    instead of 1 (reference routines.py:861 weights=). ``density``:
    normalize so the integral over the range is 1 (n / (total·width));
    the normalizing total is a scalar aggregate broadcast back
    (crossJoin(broadcast) — the repo has zero unpartitioned windows,
    tests/test_plans.py invariant)."""
    import pyspark.sql.functions as F

    from dask_spark.frame import DaskFrame

    if range is None:
        lo, hi = frame._sdf.agg(F.min(col), F.max(col)).first()
        if lo is None or hi is None:
            lo, hi = 0.0, 1.0  # numpy's default range for empty input
        lo, hi = float(lo), float(hi)
        if lo == hi:  # constant column: numpy widens to (v-0.5, v+0.5)
            lo, hi = lo - 0.5, hi + 0.5
    else:
        lo, hi = float(range[0]), float(range[1])
    w = (hi - lo) / bins
    x = F.col(col).cast("double")
    bucket = F.least(F.floor((x - F.lit(lo)) / F.lit(w)), F.lit(bins - 1))
    agg = (
        F.count(F.lit(1)) if weights is None
        else F.sum(F.col(weights).cast("double"))
    )
    out = (
        frame._sdf.filter((x >= lo) & (x <= hi))
        .groupBy(bucket.cast("int").alias("bucket"))
        .agg(agg.alias("n"))
        .withColumn("bin_lo", F.lit(lo) + F.col("bucket") * F.lit(w))
        .withColumn("bin_hi", F.lit(lo) + (F.col("bucket") + 1) * F.lit(w))
    )
    if density:
        # scalar-agg + broadcast, not an unpartitioned window (plan
        # audit invariant: no partitionless windows anywhere)
        tot = out.agg(F.sum("n").alias("__total"))
        out = (
            out.crossJoin(F.broadcast(tot))
            .withColumn("n", F.col("n") / (F.col("__total") * F.lit(w)))
            .drop("__total")
        )
    return DaskFrame(out)


def weighted_quantiles(frame, value_col: str, weight_col: str,
                       qs=(0.25, 0.5, 0.75), group_cols=()):
    """EXACT weighted quantiles: the smallest value whose cumulative
    weight reaches ceil(q·W) — per group with ``group_cols``, one
    output row per group with a ``wq_<q>`` column per requested q
    (the reduce_quantile shape). The quality-weighted corpus
    statistic: "the median document BY TOKEN COUNT" is a weighted
    median, not a row median.

    100 TB shape: duplicate values collapse map-side in a
    (group, value)-keyed aggregate (the exchange is
    distinct-values-bounded — the inherent bill of an EXACT
    quantile; pre-round the value column to collapse harder),
    cumulative weights ride the DISTRIBUTED keyless prefix scan
    (grouped: the per-group window, parallel across groups), and the
    q thresholds are computed IN-PLAN from the group totals
    (broadcast join — no driver action). Weights round once to int64
    (floor(w + 0.5)); rows with null/nonpositive weight drop by
    contract. All comparisons are exact integers: ceil(q·W) is
    integral-valued double → int64, identical in both engines."""
    from dask_spark.frame import DaskFrame
    from dask_spark.operators.window import cumulative

    sdf = frame._sdf if isinstance(frame, DaskFrame) else frame
    gc = list(group_cols)
    for q in qs:
        if not 0.0 < float(q) <= 1.0:
            raise ValueError(f"quantiles must be in (0, 1], got {q}")
    w6 = F.expr(f"CAST(floor({weight_col} + 0.5) AS BIGINT)")
    base = (
        sdf.filter(F.col(value_col).isNotNull()
                   & F.col(weight_col).isNotNull())
        .select(*gc, F.col(value_col).alias("__v"), w6.alias("__w"))
        .filter(F.col("__w") > 0)
    )
    from dask_spark.operators.sort import _pin

    # vw (the distinct-value-bounded aggregate) feeds the cumulative
    # machinery (cut sampling + bucketed build), the totals subtree
    # AND the join — r15: pin it so the full base scan + aggregate
    # runs once, not 3× (guide §1.2, §5 caching; FIFO-bounded)
    vw = _pin(base.groupBy(*gc, "__v").agg(F.sum("__w").alias("__wv")))
    if gc:
        win = (
            Window.partitionBy(*gc).orderBy("__v")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        cum = vw.withColumn("__cw", F.sum("__wv").over(win))
    else:
        cum = cumulative(
            DaskFrame(vw), "__wv", "sum", order_by="__v", out="__cw"
        )._sdf
    tot = vw.groupBy(*gc).agg(F.sum("__wv").alias("__W"))
    joined = (cum.join(F.broadcast(tot), gc) if gc
              else cum.crossJoin(F.broadcast(tot)))
    aggs = []
    for q in qs:
        t = F.ceil(F.lit(float(q)) * F.col("__W").cast("double")) \
            .cast("bigint")
        label = f"{float(q):g}".replace("0.", "").replace(".", "_")
        aggs.append(
            F.min(F.when(F.col("__cw") >= t, F.col("__v")))
            .alias(f"wq_{label}")
        )
    out = joined.groupBy(*gc).agg(*aggs) if gc else joined.agg(*aggs)
    return DaskFrame(out)


def quantile_bucketize(frame, col: str, buckets: int = 4,
                       out: str = "bucket", exact: bool = True,
                       bins: int = 1024):
    """Equal-frequency binning (the ML QuantileDiscretizer): adds
    ``out`` = the row's quantile bucket [0, buckets), with boundaries
    the EXACT percentiles at i/buckets — the preprocessing step for
    monotone-feature models and stratified diagnostics.

    One exact-percentile aggregate collects buckets−1 boundary
    scalars to the driver (Spark percentile() and DuckDB
    quantile_cont produce bit-identical doubles, the length_outliers
    contract), then the assignment is a map-only literal CASE chain:
    bucket i = (b_{i-1}, b_i], bucket 0 = (-inf, b_1]. Null values
    get a null bucket. Ties across a boundary land LEFT (<= cut),
    identical in both engines.

    100 TB escalation path (``exact=False``): Spark's exact
    ``percentile()`` BUFFERS every value in one aggregation buffer —
    an executor-memory hazard on unbounded numeric columns. The
    binned mode takes boundaries from the histogram-quantile sketch
    instead (``bins``-bounded exchange + ≤ bins collected counts, the
    reduce_quantile_hist arithmetic — oracle bit-identical); the CASE
    assignment is unchanged. Boundary error ≤ one bucket width."""
    from dask_spark.frame import DaskFrame

    b = int(buckets)
    if b < 2:
        raise ValueError(f"buckets must be >= 2, got {b}")
    sdf = frame._sdf if isinstance(frame, DaskFrame) else frame
    x = F.col(col).cast("double")
    qs = [i / b for i in range(1, b)]
    if exact:
        cuts = list(
            sdf.filter(x.isNotNull())
            .agg(F.percentile(x, F.lit(qs)).alias("c")).first()["c"]
        )
    else:
        from dask_spark.operators.sketch import hist_quantile_values

        cuts = hist_quantile_values(sdf, col, qs, bins)
        if cuts is None:
            raise ValueError(f"quantile_bucketize: no non-null {col!r}")
    expr = None
    for i, cut in enumerate(cuts):
        cond = x <= F.lit(float(cut))
        expr = F.when(cond, F.lit(i)) if expr is None \
            else expr.when(cond, F.lit(i))
    expr = expr.otherwise(F.lit(b - 1))
    expr = F.when(x.isNotNull(), expr).cast("int")
    return DaskFrame(sdf.withColumn(out, expr))


def target_encode(frame, cat_col: str, target_col: str,
                  smoothing: float = 10.0, round_dp: int = 6):
    """Smoothed mean-target encoding (the classic categorical→numeric
    ML feature; micci-barreca 2001 shape, public) →
    DaskFrame(category, n, enc): enc = (Σy + m·ȳ) / (n + m) — the
    category mean shrunk toward the global mean by pseudo-count m,
    so rare categories don't memorize their few labels.

    One |categories|-bounded aggregate; Σy is held EXACT (target
    rounds once to micro-unit int64 — the CUSUM conversion — so
    partition order can't move a bit) and ȳ/enc are pinned float
    chains replayed by the oracle. Null categories and null targets
    drop by contract."""
    from dask_spark.frame import DaskFrame

    m = float(smoothing)
    if m < 0:
        raise ValueError(f"smoothing must be >= 0, got {m}")
    sdf = frame._sdf if isinstance(frame, DaskFrame) else frame
    y6 = F.expr(
        f"CAST(floor(round({target_col}, 6) * 1000000 + 0.5) AS BIGINT)"
    )
    base = sdf.filter(
        F.col(cat_col).isNotNull() & F.col(target_col).isNotNull()
    ).select(F.col(cat_col).alias("category"), y6.alias("__y6"))
    per = base.groupBy("category").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("__y6").alias("__s6"),
    )
    tot = base.groupBy().agg(
        F.count(F.lit(1)).cast("bigint").alias("__gn"),
        # NOTE: names must differ case-insensitively from per-category
        # aliases — Spark resolves references case-insensitively
        F.sum("__y6").alias("__gs6"),
    )
    g_mean = (F.col("__gs6").cast("double") / F.col("__gn").cast("double")
              / F.lit(1_000_000.0))
    cat_sum = F.col("__s6").cast("double") / F.lit(1_000_000.0)
    enc = (cat_sum + F.lit(m) * g_mean) / (
        F.col("n").cast("double") + F.lit(m)
    )
    out = (
        per.crossJoin(F.broadcast(tot))
        .select("category", "n", F.round(enc, round_dp).alias("enc"))
    )
    return DaskFrame(out)


def spearman_corr(frame, col_x: str, col_y: str, round_dp: int = 6,
                  exact: bool = True, bins: int = 8192):
    """Spearman rank correlation → one-row DaskFrame(rho, n):
    Pearson's formula over AVERAGE ranks (ties share their rank
    block's mean) — the outlier-robust correlation the monitoring
    family wants when Pearson's moments are skew-dominated.

    EXACT-INTEGER form: ranks ride as 2·avg_rank = 2·cum − cnt + 1
    (an integer — the ×2 scaling clears the tie half-steps), built
    from per-value counts + the DISTRIBUTED keyless prefix scan
    (distinct-values-bounded, the ks_drift shape) and joined back on
    the value; the five moment sums run in exact DECIMAL(38,0) on
    the executors (4n³ outgrows int64 past n ≈ 1.3e6 — the 10×
    scaling probe caught the ANSI overflow; 38 digits hold to
    n ≈ 1e12, the oracle's HUGEINT twin) and combine EXACTLY in
    arbitrary-precision python on the driver, so the one float step
    is the final division.

    100 TB escalation path (``exact=False``): the exact rank exchange
    is DISTINCT-VALUE-bounded — ~rows for continuous data. The binned
    mode maps each column onto ``bins`` fixed-width histogram buckets
    first (the reduce_quantile_hist arithmetic: exact min/max, IEEE
    ``floor((x−mn)/w)`` clamp — bit-identical in the SQL oracle), then
    runs the SAME exact-integer rank machinery over the bucket ids, so
    every exchange is ≤ bins rows at any input size. Spearman over
    binned values == treating each bucket as one tie block; error is
    bounded by bucket resolution (rank displacement ≤ the bucket's
    population). Crossover: prefer exact below ~1e7 distinct values
    per column; binned beyond (SURVEY §4).

    r15: the exact path builds BOTH columns' rank tables from ONE
    unpivoted (axis, value) count table — one count exchange over 2n
    rows instead of two over n, one cut-sampling job instead of two,
    one per-bucket totals collect instead of two (guide §2.4 "two
    operations keyed the same way can share one exchange", §1.2).
    Rank integers are bit-identical to the per-column form: per-axis
    distinct-value counts are unchanged, and the prefix arithmetic is
    exact for ANY order-preserving bucketing (with_bucket guarantees
    max(bucket i) < min(bucket i+1); distinct values have no ties)."""
    from dask_spark.frame import DaskFrame

    sdf = frame._sdf if isinstance(frame, DaskFrame) else frame
    base = (
        sdf.filter(F.col(col_x).isNotNull() & F.col(col_y).isNotNull())
        .select(F.col(col_x).cast("double").alias("__x"),
                F.col(col_y).cast("double").alias("__y"))
    )
    if not exact:
        B = int(bins)
        st = base.agg(
            F.min("__x").alias("mnx"), F.max("__x").alias("mxx"),
            F.min("__y").alias("mny"), F.max("__y").alias("mxy"),
        ).first()
        if st["mnx"] is None:
            raise ValueError("spearman_corr: no non-null pairs")

        def bucketize(col, mn, mx):
            if mx == mn:
                return F.lit(0).cast("bigint")
            w = (float(mx) - float(mn)) / B
            return F.least(
                F.greatest(
                    F.floor((F.col(col) - F.lit(float(mn))) / F.lit(w)),
                    F.lit(0),
                ),
                F.lit(B - 1),
            ).cast("bigint")

        base = base.select(
            bucketize("__x", st["mnx"], st["mxx"]).alias("__x"),
            bucketize("__y", st["mny"], st["mxy"]).alias("__y"),
        )

    counts = None
    if exact:
        from dask_spark.operators.sort import with_bucket

        spark0 = base.sparkSession
        u = base.select(F.explode(F.array(
            F.struct(F.lit(0).alias("ax"), F.col("__x").alias("v")),
            F.struct(F.lit(1).alias("ax"), F.col("__y").alias("v")),
        )).alias("s")).select("s.ax", "s.v")
        # the value-count table feeds the cut sampling, the totals pass
        # and the rank join, and this function returns only after its
        # moments collect: persist it here and unpersist it below (the
        # eager-consumer rule at sort._PINNED; the bucketed projection
        # over it is not cached)
        counts = u.groupBy("ax", "v").agg(
            F.count(F.lit(1)).alias("__c")
        ).persist()
        nb = max(spark0.sparkContext.defaultParallelism, 2)
        qs = [i / nb for i in range(1, nb)]
        cr = counts.agg(
            F.percentile_approx(
                F.when(F.col("ax") == 0, F.col("v")), qs, 10000
            ).alias("c0"),
            F.percentile_approx(
                F.when(F.col("ax") == 1, F.col("v")), qs, 10000
            ).alias("c1"),
        ).first()
        dt = counts.schema["v"].dataType
        bucketed = counts
        for ax in (0, 1):
            cuts = sorted(
                {float(c) for c in (cr[f"c{ax}"] or []) if c is not None}
            )
            bucketed = with_bucket(bucketed, "v", cuts, True, dt, f"__p{ax}")
        bucketed = bucketed.withColumn(
            "__pid",
            F.when(F.col("ax") == 0, F.col("__p0")).otherwise(F.col("__p1")),
        ).drop("__p0", "__p1")
        # per (axis, bucket): row total t (the rank offsets) and
        # distinct-value count d (the rank-table size)
        totals = {
            (r["ax"], r["__pid"]): (int(r["t"]), int(r["d"]))
            for r in bucketed.groupBy("ax", "__pid")
            .agg(F.sum("__c").alias("t"),
                 F.count(F.lit(1)).alias("d")).collect()
        }
        offsets = []
        for ax in (0, 1):
            acc = 0
            for _, pid in sorted(k for k in totals if k[0] == ax):
                offsets.append((ax, pid, acc))
                acc += totals[(ax, pid)][0]
        off_df = spark0.createDataFrame(
            offsets or [(0, 0, 0)], "ax int, __pid int, __off long"
        )
        w = (
            Window.partitionBy("ax", "__pid").orderBy("v")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        ranks = bucketed.join(F.broadcast(off_df), ["ax", "__pid"]).select(
            "ax", "v",
            (F.lit(2) * (F.sum("__c").over(w) + F.col("__off"))
             - F.col("__c") + F.lit(1)).cast("bigint").alias("__r"),
        )
        # Re-attach ranks to rows. The totals collect above already
        # counted each axis's distinct values exactly, so pick the join
        # strategy from KNOWN sizes, not Catalyst's cache-inflated
        # estimates (r16, guide §3.1): when distinct values x 24 B
        # (double + rank + slack) fit the session's
        # spark.sql.autoBroadcastJoinThreshold, hint broadcast and the
        # n-row base is not shuffled at all (it was previously
        # exchanged TWICE, once per axis, through two sort-merge
        # joins); above it (or with the threshold <= 0, Spark's "never
        # broadcast") the SMJ path stands, and past ~1e7 distinct
        # values the documented escalation is exact=False.
        budget = spark0._jsparkSession.sessionState().conf() \
            .autoBroadcastJoinThreshold()
        n_distinct = [
            sum(d for (a0, _), (_, d) in totals.items() if a0 == ax)
            for ax in (0, 1)
        ]

        def rank_side(ax, vcol, rcol):
            t = ranks.filter(F.col("ax") == ax).select(
                F.col("v").alias(vcol), F.col("__r").alias(rcol)
            )
            hint = budget > 0 and n_distinct[ax] * 24 <= budget
            return F.broadcast(t) if hint else t

        joined = base.join(rank_side(0, "__x", "__r__x"), "__x").join(
            rank_side(1, "__y", "__r__y"), "__y"
        )
    else:
        def rank2(col):
            g = base.groupBy(col).agg(F.count(F.lit(1)).alias("__c"))
            # binned mode: <= bins distinct values by construction —
            # the per-value counts COLLECT and rank driver-side (the
            # histogram_quantiles collect contract), replacing the
            # distributed prefix-scan machinery (range-cut sampling +
            # per-bucket windows + offset combine: ~4 jobs each) with
            # one tiny broadcast join. Same integers, same hashes;
            # corr_spearman_binned 3.9s -> the join cost alone.
            rows = sorted(g.collect(), key=lambda r: r[col])
            out, cum = [], 0
            for r in rows:
                c = int(r["__c"])
                cum += c
                out.append((r[col], 2 * cum - c + 1))
            # bucket ids are bigint by construction (width_bucket /
            # floor output), so the rank table schema is fixed
            spark = base.sparkSession
            small = spark.createDataFrame(
                out, f"{col} bigint, __r{col} bigint"
            )
            return F.broadcast(small)

        joined = (
            base.join(rank2("__x"), "__x").join(rank2("__y"), "__y")
        )
    # moment sums in DECIMAL(38,0): rx·ry ~ 4n² and Σ ~ 4n³ overflow
    # int64 past n ≈ 1.3e6 (the 10× probe tripped ANSI overflow at
    # 6M rows) — 38-digit exact decimals push the bound to n ≈ 1e12,
    # matching the oracle's HUGEINT
    rx = F.col("__r__x").cast("decimal(38,0)")
    ry = F.col("__r__y").cast("decimal(38,0)")
    row = joined.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(rx).alias("sx"), F.sum(ry).alias("sy"),
        F.sum(rx * ry).alias("sxy"),
        F.sum(rx * rx).alias("sxx"), F.sum(ry * ry).alias("syy"),
    ).first()
    if counts is not None:
        counts.unpersist()
    n = int(row["n"] or 0)
    spark = sdf.sparkSession
    if n == 0:
        raise ValueError("spearman_corr: no non-null pairs")
    sx, sy = int(row["sx"]), int(row["sy"])
    sxy, sxx, syy = int(row["sxy"]), int(row["sxx"]), int(row["syy"])
    num = n * sxy - sx * sy          # exact big-int python arithmetic
    denx = n * sxx - sx * sx
    deny = n * syy - sy * sy
    if denx == 0 or deny == 0:
        rho = None
    else:
        import math

        rho = round(
            float(num) / math.sqrt(float(denx) * float(deny)), round_dp
        )
    out = spark.createDataFrame([(rho, n)], "rho double, n bigint")
    return DaskFrame(out)


def lift_table(frame, score_col: str, label_expr, buckets: int = 10,
               round_dp: int = 6, exact: bool = True, bins: int = 1024):
    """Decile lift table → DaskFrame(bucket, n, positives, rate,
    lift, cum_capture): rank rows by ``score_col`` into
    equal-frequency buckets (bucket 0 = LOWEST scores, buckets-1 =
    highest — quantile_bucketize's boundary contract) and report each
    bucket's positive rate vs the global rate plus the
    top-down cumulative capture share — the standard "is this score
    actually ordering the positives" model-evaluation readout.

    One exact-percentile aggregate (buckets−1 boundary scalars) + one
    buckets-keyed exact count pair; rate/lift/capture are pinned
    float chains of exact int64 (the driver sees ≤ buckets rows and
    folds capture top-down in bucket order — the order the oracle's
    window replays).

    ``exact=False``: boundaries from the histogram-quantile sketch
    instead of the value-buffering exact percentile
    (quantile_bucketize's escalation path, same error bound)."""
    from dask_spark.frame import DaskFrame

    sdf = frame._sdf if isinstance(frame, DaskFrame) else frame
    lab = label_expr if not isinstance(label_expr, str) \
        else F.expr(label_expr)
    staged = sdf.filter(F.col(score_col).isNotNull()).select(
        F.col(score_col).alias("__score"),
        lab.cast("int").alias("__y"),
    ).filter(F.col("__y").isNotNull())
    bucketed = quantile_bucketize(
        DaskFrame(staged), "__score", buckets=buckets, out="__b",
        exact=exact, bins=bins,
    )._sdf
    rows = {
        int(r["__b"]): (int(r["n"]), int(r["k"]))
        for r in bucketed.groupBy("__b").agg(
            F.count(F.lit(1)).alias("n"), F.sum("__y").alias("k")
        ).collect()
    }
    n_tot = sum(n for n, _ in rows.values())
    k_tot = sum(k for _, k in rows.values())
    if not n_tot:
        raise ValueError("lift_table: no scored rows")
    g_rate = k_tot / float(n_tot)
    out_rows = []
    cum_k = 0
    for b in range(int(buckets) - 1, -1, -1):  # capture folds top-down
        n, k = rows.get(b, (0, 0))
        cum_k += k
        rate = k / float(n) if n else None
        out_rows.append((
            b, n, k,
            None if rate is None else round(rate, round_dp),
            None if rate is None or g_rate == 0
            else round(rate / g_rate, round_dp),
            round(cum_k / float(k_tot), round_dp) if k_tot else None,
        ))
    spark = sdf.sparkSession
    out = spark.createDataFrame(
        sorted(out_rows),
        "bucket int, n bigint, positives bigint, rate double, "
        "lift double, cum_capture double",
    )
    return DaskFrame(out)


def roc_auc(frame, score_col: str, label_expr, round_dp: int = 6,
            exact: bool = True, bins: int = 8192):
    """EXACT ROC-AUC → one-row DaskFrame(auc, n_pos, n_neg): the
    rank-statistic form AUC = (Σ rank⁺ − n⁺(n⁺+1)/2) / (n⁺·n⁻) with
    tie-corrected AVERAGE ranks — the threshold-free classifier
    metric beside the decile lift table (identical to the
    Mann–Whitney U normalization).

    Rides the spearman machinery: average ranks as the INTEGER
    2·cum − cnt + 1 over per-score counts + the distributed keyless
    prefix scan (distinct-scores-bounded exchange), positives'
    rank sum in exact DECIMAL(38,0), final arithmetic in
    arbitrary-precision python — the only float step is the last
    division. Degenerate single-class inputs yield null auc.

    r15: the per-score aggregate counts POSITIVES per score alongside
    the total, so Σ rank⁺ folds from the distinct-score table alone —
    the join of the full base table back onto the rank table (a
    second base scan + an n-row shuffle by score) drops out of the
    plan, and the prefix scan fuses to per-bucket partials + one
    driver combine (guide §2.3 "aggregate before you shuffle", §2.4).
    Bit-identical: Σ over rows of r2·[y=1] == Σ over scores of
    r2·c_pos, and r2_global = (2·lc − c + 1) + 2·offset decomposes
    exactly per bucket — all integer arithmetic.

    100 TB escalation path (``exact=False``): the rank exchange is
    DISTINCT-SCORE-bounded — ~rows for continuous model scores, the
    common case. The binned mode histograms scores onto ``bins``
    fixed-width buckets first (the spearman_corr exact=False
    arithmetic, oracle bit-identical) and runs the SAME tie-corrected
    rank statistic over bucket ids — identical to computing AUC on a
    quantized ROC curve with trapezoidal tie handling; every exchange
    ≤ bins rows. Crossover: exact below ~1e7 distinct scores; binned
    beyond (SURVEY §4)."""
    from dask_spark.frame import DaskFrame

    sdf = frame._sdf if isinstance(frame, DaskFrame) else frame
    lab = label_expr if not isinstance(label_expr, str) \
        else F.expr(label_expr)
    base = (
        sdf.filter(F.col(score_col).isNotNull())
        .select(F.col(score_col).cast("double").alias("__s"),
                lab.cast("int").alias("__y"))
        .filter(F.col("__y").isNotNull())
    )
    if not exact:
        B = int(bins)
        st = base.agg(F.min("__s").alias("mn"),
                      F.max("__s").alias("mx")).first()
        if st["mn"] is None:
            raise ValueError("roc_auc: no scored labeled rows")
        mn, mx = float(st["mn"]), float(st["mx"])
        if mx == mn:
            bucket = F.lit(0).cast("double")
        else:
            w = (mx - mn) / B
            bucket = F.least(
                F.greatest(F.floor((F.col("__s") - F.lit(mn)) / F.lit(w)),
                           F.lit(0)),
                F.lit(B - 1),
            ).cast("double")
        base = base.select(bucket.alias("__s"), "__y")
    g = base.groupBy("__s").agg(
        F.count(F.lit(1)).alias("__c"),
        F.sum((F.col("__y") == 1).cast("bigint")).alias("__cp"),
    )
    if not exact:
        # <= bins distinct bucket ids: collect + fold driver-side
        # (the spearman binned-mode shape) instead of the distributed
        # prefix-scan machinery — r15: positives fold here too, so no
        # broadcast-back join over base remains in either mode
        rows_ = sorted(g.collect(), key=lambda r: r["__s"])
        n = n_pos = rp2 = 0
        cum_ = 0
        for r in rows_:
            c, cp = int(r["__c"]), int(r["__cp"])
            cum_ += c
            rp2 += (2 * cum_ - c + 1) * cp
            n += c
            n_pos += cp
    else:
        from dask_spark.operators.sort import range_bucket

        g = g.persist()  # aggregate input: cuts job + scan share one compute
        ranged, _nb = range_bucket(g, "__s")
        w = (
            Window.partitionBy("__pid").orderBy("__s")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        lc = F.sum("__c").over(w)
        r2l = (F.lit(2) * lc - F.col("__c") + F.lit(1)).cast("decimal(38,0)")
        per_b = {
            r["__pid"]: (int(r["c"]), int(r["cp"]), int(r["s"]))
            for r in ranged
            .withColumn("__r2l", r2l)
            .groupBy("__pid").agg(
                F.sum("__c").alias("c"),
                F.sum("__cp").alias("cp"),
                F.sum(F.col("__r2l")
                      * F.col("__cp").cast("decimal(38,0)")).alias("s"),
            ).collect()
        }
        g.unpersist()
        n = n_pos = rp2 = 0
        off = 0  # exclusive prefix of total counts = rank offset
        for pid in sorted(per_b):
            c, cp, s = per_b[pid]
            rp2 += s + 2 * off * cp
            off += c
            n += c
            n_pos += cp
    if n == 0:
        raise ValueError("roc_auc: no scored labeled rows")
    n_neg = n - n_pos
    if n_pos == 0 or n_neg == 0:
        auc = None
    else:
        # rp2 = Σ of 2·avg-rank over positives (exact python int)
        # AUC = (Σr⁺ − n⁺(n⁺+1)/2) / (n⁺ n⁻); with r2 = 2r:
        num = rp2 - n_pos * (n_pos + 1)
        auc = round(float(num) / (2.0 * float(n_pos) * float(n_neg)),
                    round_dp)
    spark = sdf.sparkSession
    out = spark.createDataFrame(
        [(auc, n_pos, n_neg)], "auc double, n_pos bigint, n_neg bigint"
    )
    return DaskFrame(out)


def _calibration_cells(sdf, score_col: str, label_expr, bins: int):
    """Shared staging for the calibration family: probability scores
    clamp into [0, 1] (ECE's domain contract), bucket on the fixed
    B-bin grid, and each bucket aggregates (n, positives, micro-unit
    score sum) — confidences sum as exact int64 micro-units (the
    engine's float-sum-order rule), so every downstream column is a
    deterministic expression over exact integers."""
    B = int(bins)
    if B < 2:
        raise ValueError(f"bins must be >= 2, got {bins}")
    lab = label_expr if not isinstance(label_expr, str) \
        else F.expr(label_expr)
    s = F.least(F.greatest(F.col(score_col).cast("double"), F.lit(0.0)),
                F.lit(1.0))
    bucket = F.least(F.floor(s * F.lit(B)), F.lit(B - 1)).cast("int")
    # micro-unit score, built compositionally from the already-clamped
    # column (no string-formatted expr: names needing backticks work)
    s6 = (
        F.floor(F.round(s, 6) * F.lit(1_000_000) + F.lit(0.5))
        .cast("bigint")
    )
    return (
        sdf.filter(F.col(score_col).isNotNull())
        .select(bucket.alias("bucket"), s6.alias("__s6"),
                lab.cast("int").alias("__y"))
        .filter(F.col("__y").isNotNull())
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("__y").cast("bigint").alias("positives"),
            F.sum("__s6").cast("bigint").alias("__s6sum"),
        )
    ), B


def calibration_table(frame, score_col: str, label_expr,
                      bins: int = 10, round_dp: int = 6):
    """Reliability diagram data → DaskFrame(bucket, n, positives,
    conf, acc, gap), one row per non-empty fixed-width confidence
    bucket over [0, 1]: conf = mean predicted probability, acc =
    observed positive rate, gap = |acc − conf| — the table behind
    every calibration plot and the input to ECE (the
    quality-classifier sanity check beside roc_auc/lift_table: a
    miscalibrated filter threshold silently shifts corpus mix).

    100 TB shape: ONE scan, one ≤ bins-key aggregate (map-side
    combined); scores sum as exact micro-unit int64 so conf is a
    deterministic division, oracle-replayable bit-for-bit."""
    from dask_spark.frame import DaskFrame

    sdf = frame._sdf if isinstance(frame, DaskFrame) else frame
    cells, _ = _calibration_cells(sdf, score_col, label_expr, bins)
    nd = F.col("n").cast("double")
    conf = F.col("__s6sum").cast("double") / (nd * F.lit(1_000_000.0))
    acc = F.col("positives").cast("double") / nd
    out = cells.select(
        "bucket", "n", "positives",
        F.round(conf, round_dp).alias("conf"),
        F.round(acc, round_dp).alias("acc"),
        F.round(F.abs(acc - conf), round_dp).alias("gap"),
    )
    return DaskFrame(out)


def expected_calibration_error(frame, score_col: str, label_expr,
                               bins: int = 10, round_dp: int = 6):
    """ECE → one-row DaskFrame(ece, n, n_buckets): Σ_b (n_b/N)·
    |acc_b − conf_b| over the calibration_table buckets — the one-
    number calibration gate (Guo et al.'s standard formulation).

    The ≤ bins cell rows collect and fold driver-side in BUCKET ORDER
    (the chi2_drift convention — the oracle's list_reduce replays the
    same left-to-right float chain); per-bucket terms are
    deterministic expressions over exact int64 (n, k, s6)."""
    from dask_spark.frame import DaskFrame

    sdf = frame._sdf if isinstance(frame, DaskFrame) else frame
    cells, B = _calibration_cells(sdf, score_col, label_expr, bins)
    rows = cells.collect()
    n_total = sum(int(r["n"]) for r in rows)
    if n_total == 0:
        raise ValueError(
            "expected_calibration_error: no scored labeled rows"
        )
    ece = 0.0
    for r in sorted(rows, key=lambda r: r["bucket"]):
        n, k, s6 = int(r["n"]), int(r["positives"]), int(r["__s6sum"])
        gap = abs(float(k) / float(n)
                  - float(s6) / (float(n) * 1_000_000.0))
        ece = ece + (float(n) / float(n_total)) * gap
    spark = sdf.sparkSession
    return DaskFrame(spark.createDataFrame(
        [(round(ece, round_dp), n_total, B)],
        "ece double, n bigint, n_buckets int",
    ))


def robust_mean(frame, col: str, lower: float = 0.05,
                upper: float = 0.95, round_dp: int = 6,
                exact: bool = True, bins: int = 1024):
    """Robust locations → one-row DaskFrame(n, mean, trimmed_mean,
    winsorized_mean): the plain mean beside its two standard
    outlier-resistant variants — TRIM drops values outside the exact
    [p_lower, p_upper] percentiles, WINSOR clamps them to the
    boundaries (Tukey's recipes; the length/price sanity statistics a
    corpus report wants when a few giants skew the mean).

    One exact-percentile aggregate (2 boundary scalars, the
    quantile_cont-parity contract) + ONE scan computing all three
    sums in micro-unit int64 (values round once to 6 dp — partition
    order can't move a bit); each mean is one pinned float chain.

    ``exact=False``: the trim/winsor boundaries come from the
    histogram-quantile sketch instead of the value-buffering exact
    percentile (the quantile_bucketize escalation path — boundary
    error ≤ one bucket width, which a 5%-trim statistic absorbs by
    design). Estimator note: exact mode INTERPOLATES the percentile
    (type-7 / quantile_cont); the sketch is rank-based and lands ON a
    sample value — winsorized means differ by up to one inter-value
    gap at tie blocks."""
    from dask_spark.frame import DaskFrame

    if not 0.0 <= float(lower) < float(upper) <= 1.0:
        raise ValueError("need 0 <= lower < upper <= 1")
    sdf = frame._sdf if isinstance(frame, DaskFrame) else frame
    x = F.col(col).cast("double")
    base = sdf.filter(x.isNotNull())
    if exact:
        lo, hi = base.agg(
            F.percentile(x, F.lit(float(lower))),
            F.percentile(x, F.lit(float(upper))),
        ).first()
        if lo is None:
            raise ValueError("robust_mean: empty input")
    else:
        from dask_spark.operators.sketch import hist_quantile_values

        # hist ranks use ceil(q*n) >= 1, so lower=0.0 maps to the
        # first value's bucket — clamp to the true min instead
        qs = [max(float(lower), 1e-12), float(upper)]
        vals = hist_quantile_values(sdf, col, qs, bins)
        if vals is None:
            raise ValueError("robust_mean: empty input")
        lo, hi = vals
    lo, hi = float(lo), float(hi)

    def u6(c):
        return F.expr(
            f"CAST(floor(round({c}, 6) * 1000000 + 0.5) AS BIGINT)"
        )

    inside = (x >= F.lit(lo)) & (x <= F.lit(hi))
    staged = base.select(
        u6(col).alias("__a6"),
        F.expr(
            "CAST(floor(round(least(greatest(CAST({c} AS DOUBLE), "
            "{lo!r}), {hi!r}), 6) * 1000000 + 0.5) AS BIGINT)".format(
                c=col, lo=lo, hi=hi
            )
        ).alias("__w6"),
        F.when(inside, u6(col)).alias("__t6"),
    )
    row = staged.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("__a6").alias("sa"),
        F.sum("__w6").alias("sw"),
        F.sum("__t6").alias("st"),
        F.count("__t6").cast("bigint").alias("nt"),
    ).first()
    n = int(row["n"])

    def m(s, k):
        return (None if not k else
                round(float(s) / float(k) / 1_000_000.0, round_dp))

    spark = sdf.sparkSession
    out = spark.createDataFrame(
        [(n, m(row["sa"], n), m(row["st"], int(row["nt"])),
          m(row["sw"], n))],
        "n bigint, mean double, trimmed_mean double, "
        "winsorized_mean double",
    )
    return DaskFrame(out)


def roc_auc_by_group(frame, score_col: str, label_expr, group_col: str,
                     round_dp: int = 6):
    """Per-segment ROC-AUC → DaskFrame(group, auc, n_pos, n_neg), one
    row per group — the fairness/segment readout beside the global
    roc_auc ("does the quality score order positives as well for
    low-resource languages as for English"). Single-class groups get
    null auc, matching the global contract.

    100 TB shape: one (group, score)-keyed count (map-side combined,
    r15: counting POSITIVES per cell alongside the total), the
    tie-corrected integer rank 2·cum − c + 1 via a GROUP-KEYED
    window (partitioned by group — parallel across groups, never the
    keyless single-partition shape), then the per-group AUC moments
    fold from the (group, score) table alone — the join of the full
    base table back onto the rank table (a second base scan + an
    n-row shuffle) dropped out of the plan, the same rewrite as the
    global roc_auc (guide §2.3, §2.4); Σ over rows of r2·[y=1] ==
    Σ over cells of r2·c_pos, exactly. The AUC closes IN-PLAN: the
    numerator subtracts in exact DECIMAL(38,0) before the one double
    division, so the oracle (HUGEINT arithmetic then ::DOUBLE)
    reproduces every bit."""
    from pyspark.sql import Window

    from dask_spark.frame import DaskFrame

    sdf = frame._sdf if isinstance(frame, DaskFrame) else frame
    lab = label_expr if not isinstance(label_expr, str) \
        else F.expr(label_expr)
    base = (
        sdf.filter(F.col(score_col).isNotNull()
                   & F.col(group_col).isNotNull())
        .select(F.col(group_col).alias("__g"),
                F.col(score_col).cast("double").alias("__s"),
                lab.cast("int").alias("__y"))
        .filter(F.col("__y").isNotNull())
    )
    g = base.groupBy("__g", "__s").agg(
        F.count(F.lit(1)).alias("__c"),
        F.sum((F.col("__y") == 1).cast("bigint")).alias("__cp"),
    )
    w = (
        Window.partitionBy("__g").orderBy("__s")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ranks = g.select(
        "__g", "__c", "__cp",
        (F.lit(2) * F.sum("__c").over(w) - F.col("__c") + F.lit(1))
        .cast("decimal(38,0)").alias("__r2"),
    )
    per = ranks.groupBy("__g").agg(
        F.sum(F.col("__r2")
              * F.col("__cp").cast("decimal(38,0)")).alias("rp"),
        F.sum("__cp").cast("bigint").alias("np"),
        F.sum("__c").cast("bigint").alias("n"),
    )
    np_ = F.col("np")
    nn = F.col("n") - np_
    num = (
        F.col("rp")
        - (np_.cast("decimal(38,0)") * (np_ + 1).cast("decimal(38,0)"))
    ).cast("double")
    auc = F.when(
        (np_ > 0) & (nn > 0),
        F.round(num / (F.lit(2.0) * np_.cast("double")
                       * nn.cast("double")), round_dp),
    )
    return DaskFrame(per.select(
        F.col("__g").alias("group"), auc.alias("auc"),
        np_.alias("n_pos"), nn.cast("bigint").alias("n_neg"),
    ))
