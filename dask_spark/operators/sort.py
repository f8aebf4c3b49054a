"""Sorting / partitioning: re-expression of dask's set_index /
sort_values / repartition (reference: dask/dataframe/dask_expr/_shuffle.py,
dask/dataframe/shuffle.py, partitionquantiles.py).

dask samples partition quantiles to compute ``divisions`` then
task-shuffles. Spark's RangePartitioner does exactly that sampling
inside ``repartitionByRange`` / global ``orderBy`` — so set_index is
declared, not hand-built."""

from __future__ import annotations

from typing import Sequence

import pyspark.sql.functions as F


def set_index(frame, col: str, npartitions: int | None = None):
    """Range-partition by ``col`` and sort within partitions — the
    Spark equivalent of dask's (index, divisions) invariant: rows
    globally ordered across partitions, sorted within each."""
    from dask_spark.frame import DaskFrame

    sdf = frame._sdf
    if npartitions:
        sdf = sdf.repartitionByRange(npartitions, F.col(col))
    else:
        sdf = sdf.repartitionByRange(F.col(col))
    out = DaskFrame(sdf.sortWithinPartitions(col))
    out._index_col = col  # enables label-based .loc range slicing
    return out


def num_partitions(sdf) -> int:
    """Planned partition count. Classic Spark answers from the plan for
    free via ``rdd.getNumPartitions()`` (no job, counts empty
    partitions, matches dask's npartitions semantics exactly). Spark
    Connect has no ``.rdd``; there we fall back to one tiny job counting
    distinct partition ids — a lower bound (empty partitions invisible),
    clamped to >=1 so an empty frame never reports 0 partitions."""
    try:
        return sdf.rdd.getNumPartitions()
    except Exception:
        # Spark Connect (PySparkNotImplementedError) or any .rdd-less
        # DataFrame: probe via a job, accept the lower-bound semantics.
        probed = sdf.select(F.spark_partition_id().alias("p")).distinct().count()
        return max(1, probed)


def repartition(frame, npartitions: int | None = None, on: Sequence[str] | None = None):
    """dask repartition(npartitions=) / shuffle(on=). Decreasing
    partition count uses coalesce (no shuffle)."""
    from dask_spark.frame import DaskFrame

    sdf = frame._sdf
    if on:
        cols = [F.col(c) for c in on]
        sdf = sdf.repartition(npartitions, *cols) if npartitions else sdf.repartition(*cols)
    elif npartitions is not None:
        current = num_partitions(sdf)
        sdf = sdf.coalesce(npartitions) if npartitions < current else sdf.repartition(npartitions)
    return DaskFrame(sdf)


# Bounded FIFO of persisted helper plans. One caching rule holds
# across the package:
# - an EAGER consumer (it collects its answer before returning)
#   ``persist()``s an expensive input itself and ``unpersist()``s it
#   before it returns — nothing it caches outlives the call;
# - ``_pin`` only backs a LAZILY RETURNED frame whose plan reads the
#   cache after the call returns (dedup's signature tables, the
#   weighted-quantile value table, cusum's windowed prefix), so the
#   FIFO, not the caller, decides when it is freed;
# - a bucketed projection (``range_bucket``/``with_bucket``) is never
#   cached: a row's bucket is a pure function of the row and the
#   literal cuts, so recomputing it is cheap and lands every row in
#   the SAME bucket, and per-bucket stats baked into a derived plan
#   stay valid.
# Eviction therefore costs a recompute, never correctness.
_PINNED: list = []
_PIN_LIMIT = 8

# Largest cut count emitted as one balanced nested-CASE expression
# (O(#cuts) expression nodes, O(log) per-row branches); larger cut
# counts fall back to the chained-projection binary search whose
# generated code stays O(log #cuts). 128 covers every local run
# (cuts = defaultParallelism) with a comfortably small expression.
_TREE_MAX_CUTS = 128


def _pin(df):
    _PINNED.append(df.persist())
    while len(_PINNED) > _PIN_LIMIT:
        _PINNED.pop(0).unpersist()
    return df


def _ord_double(col: str, dt):
    """Column expr casting an orderable temporal/numeric column to
    double for cut comparisons; None when the type has no numeric
    order embedding (strings etc. compare raw)."""
    from pyspark.sql.types import (BooleanType, DateType, NumericType,
                                   TimestampNTZType, TimestampType)

    c = F.col(col)
    if isinstance(dt, DateType):
        return c.cast("timestamp").cast("double")
    if isinstance(dt, (NumericType, BooleanType, TimestampType, TimestampNTZType)):
        return c.cast("double")
    return None


def range_cuts(sdf, col: str, n: int):
    """``n-1`` interior cut values of ``col``, collected ONCE to the
    driver (the same role as dask's partitionquantiles divisions):
    approximate quantiles for numeric/temporal columns, a seeded
    sample's quantiles for other orderable types. Returns
    ``(cuts, numeric)``; cut count may dedupe below n-1."""
    if n <= 1:
        return [], True
    dt = sdf.schema[col].dataType
    oc = _ord_double(col, dt)
    qs = [i / n for i in range(1, n)]
    if oc is not None:
        row = sdf.agg(F.percentile_approx(oc, qs, 10000).alias("c")).first()
        cuts = row["c"] if row["c"] is not None else []
        return sorted({float(c) for c in cuts if c is not None}), True
    # non-numeric order key (rare): quantiles of a seeded sample
    total = sdf.count()
    frac = min(1.0, (n * 128) / max(total, 1))
    vals = sorted(
        r[0] for r in sdf.select(col).dropna().sample(False, frac, 42).collect()
    )
    cuts = sorted({vals[int(len(vals) * i / n)] for i in range(1, n)}) if vals else []
    return cuts, False


def with_bucket(sdf, col: str, cuts, numeric: bool, dt, pid_col: str):
    """Attach the range-bucket id as a PURE function of the row:
    ``#{cuts <= value}`` — equivalently the index of the first cut
    strictly greater than the value (equal keys always share a bucket;
    max(bucket i) < min(bucket i+1)); nulls land in bucket 0 (Spark's
    ascending nulls-first order). Because the cuts are baked literals,
    recomputing any derived plan reproduces identical buckets — unlike
    spark_partition_id() over repartitionByRange, whose sampling is
    fresh-seeded per execution.

    The lookup is a BINARY SEARCH over the sorted cuts. Up to
    ``_TREE_MAX_CUTS`` cuts (every local/toy run; a cluster job keyed
    to tens of cores per bucket) it is emitted as ONE balanced
    nested-CASE expression: node (lo, hi) compares v against the
    middle cut and descends into exactly one half, so per-row
    evaluation is O(log #buckets) lazily-taken branches while the
    expression holds each cut once. The single expression has
    nothing for the optimizer to duplicate, which the r15 chain of
    per-step lo/hi projections had: re-deriving a plan inlined each
    step's lo/hi into the next and re-expanded the tree exponentially.
    tests/test_optimization_r16.py pins this form bit-for-bit against
    that chain, and both forms below against ``#{cuts <= v}``.

    Past ``_TREE_MAX_CUTS`` the same binary search runs as ONE
    ``aggregate`` higher-order expression (the dask analog is the
    binary search over divisions in dask/dataframe/shuffle.py
    set_partitions_pre): ceil(log2(n+1)) lambda steps carry a
    (lo, hi) struct over the literal cut array, so the expression
    holds each cut once and its size does not grow with the number
    of steps, where the nested form's O(#buckets) nodes outgrow
    codegen method limits past a few hundred cuts. The r15 chain had
    served here too; with nothing cached under it, a join on the
    bucket id pushed its inferred ``isnotnull`` filter down through
    the chain, substituting every step's aliases into the next, and
    planning a 300-bucket global index ran for minutes.
    Neither form is cached by any caller: a bucketed projection is
    recomputed per read (the caching rule at ``_PINNED``);
    tests/test_plans.py pins an exact global index through this path
    at 300 buckets."""
    import math

    if not cuts:
        return sdf.withColumn(pid_col, F.lit(0))
    oc = (_ord_double(col, dt) if numeric else F.col(col))
    n = len(cuts)
    if n <= _TREE_MAX_CUTS:
        # invariant: node(lo, hi) = #{cuts <= v} given cuts[0..lo-1]
        # <= v (< cuts[hi..n-1]); leaves are literal counts
        def node(lo: int, hi: int):
            if lo == hi:
                return F.lit(lo)
            mid = (lo + hi) // 2
            return F.when(
                F.lit(cuts[mid]) <= oc, node(mid + 1, hi)
            ).otherwise(node(lo, mid))

        found = node(0, n)
    else:
        arr = F.array(*[F.lit(c) for c in cuts])

        # invariant: cuts[0..lo-1] <= v < cuts[hi..n-1]; converged
        # extra steps are no-ops (cuts[lo] is out of range or > v
        # once lo == hi)
        def step(acc, _):
            lo, hi = acc["lo"], acc["hi"]
            mid = F.floor((lo + hi) / 2).cast("int")
            le = F.try_element_at(arr, mid + 1) <= oc
            return F.struct(
                F.when(le, mid + 1).otherwise(lo).alias("lo"),
                F.when(le, hi).otherwise(mid).alias("hi"),
            )

        found = F.aggregate(
            F.sequence(F.lit(1), F.lit(max(1, math.ceil(math.log2(n + 1))))),
            F.struct(F.lit(0).alias("lo"), F.lit(n).alias("hi")),
            step,
            lambda acc: acc["lo"],
        )
    pid = F.when(F.col(col).isNull(), F.lit(0)).otherwise(found)
    return sdf.withColumn(pid_col, pid)


def range_bucket(sdf, col: str, num_partitions: int | None = None,
                 pid_col: str = "__pid"):
    """Deterministically range-bucket ``sdf`` by ``col`` into
    ``pid_col`` ∈ [0, n). The foundation of every keyless windowed op
    (global index, halos, prefix scans, as-of carries): those ops run
    a tiny per-bucket stats job, bake the collected stats into the
    output plan, and rely on the output scan reproducing the SAME
    buckets — guaranteed here by construction (see with_bucket).
    Returns ``(bucketed_sdf, n_buckets)``.

    Nothing here or in any caller caches the bucketed frame: the
    bucket is one expression over literal cuts, so a consumer
    that reads it twice (stats pass + main pass) recomputes a cheap
    projection. What such a second read also recomputes is the INPUT
    subtree under it; an eager consumer whose input is expensive (an
    aggregate or a join) ``persist``s that input itself so the
    cut-sampling job, the stats pass and the main pass share one
    compute, and ``unpersist``s it before returning (ks_drift's g,
    gini's staged, cusum's daily — the g.persist fix took drift_ks
    from 3.7 s to 2.1 s at sf0.1). A lazily returned frame relies on
    the caller's own ``persist`` instead. Dropping the pins on the
    bucketed frame at all 11 former sites, measured at sf0.1 on 4
    cores (3 interleaved runs per side): identical checksums in the
    13 registry queries that reach them, one job fewer in 11 of them
    (two in autocorr), and no median slower by more than 0.05 s."""
    n = num_partitions or max(sdf.sparkSession.sparkContext.defaultParallelism, 2)
    cuts, numeric = range_cuts(sdf, col, n)
    dt = sdf.schema[col].dataType
    return (
        with_bucket(sdf, col, cuts, numeric, dt, pid_col),
        len(cuts) + 1,
    )


def ranged_with_halo(sdf, order_by, before_rows: int = 0,
                     after_rows: int = 0, before_range: float | None = None,
                     after_range: float | None = None,
                     num_partitions: int | None = None):
    """Range-bucket ``sdf`` by ``order_by`` and ship bounded halo rows
    between neighboring buckets — the Spark twin of dask's map_overlap
    boundary shipping (reference: dask/dataframe/rolling.py), used to
    make KEYLESS window ops parallel instead of collapsing to
    ``Window.partitionBy()`` of nothing (a single-partition plan).

    Output columns: ``__pid`` (range bucket, 0-based in global order)
    and ``__core`` (False for shipped halo copies). A window
    ``partitionBy("__pid").orderBy(order_by)`` then computes per-bucket
    frames that see across the boundary; callers filter ``__core``.

    ``before_rows``/``before_range`` ship each bucket's tail (last k
    rows / rows within ``range`` of the bucket max) forward to the next
    bucket — lag / backward-looking frames. ``after_rows``/
    ``after_range`` ship heads backward — lead / forward frames.
    Equal keys land in one bucket (range partitioning), so halo rows
    always order strictly before (resp. after) every core row.

    A halo spans exactly ONE neighbor group, so every group must be
    big enough to serve its neighbor's lookback. One tiny per-bucket
    stats job (count/min/max — #buckets rows of driver data, dask's
    divisions shape) feeds a greedy driver merge of consecutive range
    buckets into groups of ≥ the halo size (rows) / ≥ the halo span
    (range); this also absorbs the empty buckets range partitioning
    leaves between duplicate-heavy boundaries. ``__pid`` is the dense
    group id. Degenerate case (all data smaller than one halo) is one
    group — the same single partition pandas semantics would force."""
    from pyspark.sql import Window

    cols = [order_by] if isinstance(order_by, str) else list(order_by)
    ranged, _nb = range_bucket(sdf, cols[0], num_partitions, pid_col="__rpid")
    oc0 = F.col(cols[0]).cast("double")
    stats = sorted(
        ranged.groupBy("__rpid").agg(
            F.count(F.lit(1)).alias("n"),
            F.min(oc0).alias("lo"),
            F.max(oc0).alias("hi"),
        ).collect(),
        key=lambda r: r["__rpid"],
    )
    need_rows = max(before_rows, after_rows)
    need_span = max(before_range or 0.0, after_range or 0.0)

    def _full(rows, lo, hi):
        return (need_rows == 0 or rows >= need_rows) and (
            need_span == 0.0 or (hi - lo) >= need_span
        )

    groups: list[list[int]] = []
    cur, cur_rows, cur_lo, cur_hi = [], 0, None, None
    for r in stats:
        cur.append(r["__rpid"])
        cur_rows += r["n"]
        cur_lo = r["lo"] if cur_lo is None else min(cur_lo, r["lo"])
        cur_hi = r["hi"] if cur_hi is None else max(cur_hi, r["hi"])
        if _full(cur_rows, cur_lo, cur_hi):
            groups.append(cur)
            cur, cur_rows, cur_lo, cur_hi = [], 0, None, None
    if cur:
        # an undersized trailing group can't serve its neighbor's halo
        if groups and not _full(cur_rows, cur_lo or 0.0, cur_hi or 0.0):
            groups[-1].extend(cur)
        else:
            groups.append(cur)
    gid_of = {pid: gi for gi, grp in enumerate(groups) for pid in grp}
    max_gid = len(groups) - 1

    # __rpid is dense in [0, _nb) by construction, so the pid -> group
    # map is an O(1) literal-array lookup per row (never a CASE chain
    # linear in bucket count; empty buckets map to 0 — no rows carry
    # their pid anyway)
    gid_arr = F.array(*[F.lit(gid_of.get(p, 0)) for p in range(_nb)])
    grouped = ranged.withColumn(
        "__pid", F.element_at(gid_arr, F.col("__rpid") + 1)
    ).drop("__rpid")

    parts = [grouped.withColumn("__core", F.lit(True))]
    oc = [F.col(c) for c in cols]
    if (before_rows or before_range is not None) and max_gid > 0:
        if before_rows:
            wd = Window.partitionBy("__pid").orderBy(*[c.desc() for c in oc])
            tail_cond = F.row_number().over(wd) <= before_rows
        else:
            wm = Window.partitionBy("__pid")
            tail_cond = oc0 > F.max(oc0).over(wm) - before_range
        parts.append(
            grouped.withColumn("__t", tail_cond)
            .filter("__t").drop("__t")
            .filter(F.col("__pid") < max_gid)
            .withColumn("__pid", F.col("__pid") + 1)
            .withColumn("__core", F.lit(False))
        )
    if (after_rows or after_range is not None) and max_gid > 0:
        if after_rows:
            wa = Window.partitionBy("__pid").orderBy(*oc)
            head_cond = F.row_number().over(wa) <= after_rows
        else:
            wm = Window.partitionBy("__pid")
            head_cond = oc0 < F.min(oc0).over(wm) + after_range
        parts.append(
            grouped.withColumn("__h", head_cond)
            .filter("__h").drop("__h")
            .filter(F.col("__pid") > 0)
            .withColumn("__pid", F.col("__pid") - 1)
            .withColumn("__core", F.lit(False))
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def with_global_index(sdf, order_by, index_col: str = "__idx",
                      num_partitions: int | None = None):
    """Scale-safe global 0-based row index in ``order_by`` order — the
    Spark twin of dask's (index, divisions) bookkeeping, with NO
    single-partition window:

    1. ``range_bucket`` assigns a deterministic range-bucket id
       (literal quantile cuts — dask's partitionquantiles shape),
    2. one TINY job counts rows per bucket (the only driver data is
       #buckets longs — same as dask's divisions),
    3. ``row_number`` windowed per BUCKET (parallel, never a global
       window) + broadcast-joined cumulative offset.

    Because bucket ids are a pure row function, the baked offsets stay
    valid when the output plan recomputes the bucketing, which it
    does on every read: nothing is cached here."""
    from pyspark.sql import Window

    cols = [order_by] if isinstance(order_by, str) else list(order_by)
    ranged, _nb = range_bucket(sdf, cols[0], num_partitions)
    counts = {
        r["__pid"]: r["cnt"]
        for r in ranged.groupBy("__pid").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    offsets, acc = [], 0
    for pid in sorted(counts):
        offsets.append((pid, acc))
        acc += counts[pid]
    spark = sdf.sparkSession
    off_df = spark.createDataFrame(offsets or [(0, 0)], "__pid int, __off long")
    w = Window.partitionBy("__pid").orderBy(*[F.col(c) for c in cols])
    return (
        ranged.join(F.broadcast(off_df), "__pid")
        .withColumn(index_col, F.row_number().over(w) - 1 + F.col("__off"))
        .drop("__pid", "__off")
    )


def stratified_sample(frame, col: str, fractions: dict, seed: int = 42):
    """Per-stratum Bernoulli sampling (``sampleBy``) — the
    training-data mixing primitive (per-source quotas); map-only, no
    shuffle, deterministic for a fixed seed and partitioning. Strata
    absent from ``fractions`` are dropped (fraction 0)."""
    from dask_spark.frame import DaskFrame

    return DaskFrame(frame._sdf.sampleBy(col, dict(fractions), seed))
