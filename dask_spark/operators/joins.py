"""Joins: PySpark re-expression of dask's merge machinery
(reference: dask/dataframe/dask_expr/_merge.py, dask/dataframe/multi.py).

dask picks between a blockwise (broadcast) merge and a full task shuffle
(HashJoinP2P). Spark's planner makes the same decision natively
(BroadcastHashJoin vs SortMergeJoin, AQE re-plans at runtime); we only
add an explicit ``broadcast`` hint passthrough and a salting helper for
pathological skew.

``merge_asof`` (reference: dask/dataframe/multi.py merge_asof /
_concat_and_asof) has no Spark builtin; implemented as union + window
last-non-null — one shuffle on (by, on), no cross product."""

from __future__ import annotations

from typing import Sequence

import pyspark.sql.functions as F
from pyspark.sql import Column, Window
from pyspark.sql.functions import broadcast as B
from pyspark.sql.types import TimestampNTZType, TimestampType

_HOW = {
    "inner": "inner",
    "left": "left",
    "right": "right",
    "outer": "full_outer",
    "full": "full_outer",
    "cross": "cross",
    "semi": "left_semi",
    "leftsemi": "left_semi",
    "anti": "left_anti",
    "leftanti": "left_anti",
}


class MergeError(ValueError):
    """pandas.errors.MergeError twin: merge(validate=...) violation."""


def _validate_merge(lsdf, rsdf, lkeys, rkeys, validate: str) -> None:
    """pandas merge(validate=): check merge-key uniqueness EAGERLY —
    one key-grouped count per side that must be unique (limit-1
    early-exit), nothing collected beyond a scalar."""
    norm = {
        "1:1": "11", "one_to_one": "11",
        "1:m": "1m", "one_to_many": "1m",
        "m:1": "m1", "many_to_one": "m1",
        "m:m": "mm", "many_to_many": "mm",
    }
    if validate not in norm:
        raise ValueError(f"invalid validate argument: {validate!r}")
    v = norm[validate]

    def has_dups(sdf, keys) -> bool:
        # empty keys = the cross-merge case: "unique" means <= 1 row
        grouped = sdf.groupBy(*keys) if keys else sdf.groupBy()
        return (
            grouped.agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") > 1).limit(1).count() > 0
        )

    if v in ("11", "1m") and has_dups(lsdf, lkeys):
        raise MergeError(
            "Merge keys are not unique in left dataset; "
            f"not a {validate} merge"
        )
    if v in ("11", "m1") and has_dups(rsdf, rkeys):
        raise MergeError(
            "Merge keys are not unique in right dataset; "
            f"not a {validate} merge"
        )


def merge(left, right, how="inner", on=None, left_on=None, right_on=None,
          broadcast=None, suffixes=("_x", "_y"), indicator=False,
          validate=None):
    """pandas/dask merge (reference dask_expr/_merge.py). PINNED
    DEVIATION — missing join keys: pandas matches NaN keys to each
    other (NaN==NaN inside a merge); here missing keys never match
    (SQL equi-join). The SQL rule is the deliberate scale choice: a
    null-matching join forms the CROSS PRODUCT of all missing-keyed
    rows — a corpus with 1% null keys at 100 TB would build a 10^16-
    pair hot bucket no skew handling can split. Filter-and-union if
    NaN-match semantics are genuinely wanted. Pinned in
    tests/test_fuzz_parity.py::test_merge_missing_keys_deviation."""
    from dask_spark.frame import DaskFrame

    lsdf, rsdf = left._sdf, right._sdf
    how = _HOW[how]
    if validate is not None:
        if how == "cross":
            # pandas: a cross merge is 1:1 only when each side has at
            # most one row — validated on the EMPTY key
            lk = rk = []
        else:
            lk = ([on] if isinstance(on, str) else list(on)) \
                if on is not None \
                else ([left_on] if isinstance(left_on, str) else list(left_on))
            rk = ([on] if isinstance(on, str) else list(on)) \
                if on is not None \
                else ([right_on] if isinstance(right_on, str)
                      else list(right_on))
        _validate_merge(lsdf, rsdf, lk, rk, validate)
    if indicator:
        # pandas merge(indicator=True): per-row provenance. Constant
        # presence flags on each side cost nothing and survive any
        # join type.
        lsdf = lsdf.withColumn("__from_l", F.lit(1))
        rsdf = rsdf.withColumn("__from_r", F.lit(1))
    if broadcast:
        rsdf = B(rsdf)

    def _with_indicator(out):
        if not indicator:
            return out
        flag = (
            F.when(
                F.col("__from_l").isNotNull() & F.col("__from_r").isNotNull(),
                "both",
            )
            .when(F.col("__from_l").isNotNull(), "left_only")
            .otherwise("right_only")
        )
        return out.withColumn("_merge", flag).drop("__from_l", "__from_r")

    if how == "cross":
        return DaskFrame(_with_indicator(lsdf.crossJoin(rsdf)))

    if on is not None:
        keys = [on] if isinstance(on, str) else list(on)
        # de-collide non-key shared columns with pandas-style suffixes
        shared = [
            c for c in lsdf.columns if c in rsdf.columns and c not in keys
        ]
        for c in shared:
            lsdf = lsdf.withColumnRenamed(c, c + suffixes[0])
            rsdf = rsdf.withColumnRenamed(c, c + suffixes[1])
        return DaskFrame(_with_indicator(lsdf.join(rsdf, on=keys, how=how)))

    lkeys = [left_on] if isinstance(left_on, str) else list(left_on)
    rkeys = [right_on] if isinstance(right_on, str) else list(right_on)
    shared = [c for c in lsdf.columns if c in rsdf.columns]
    for c in shared:
        lsdf = lsdf.withColumnRenamed(c, c + suffixes[0])
        rsdf = rsdf.withColumnRenamed(c, c + suffixes[1])
    fix = lambda k, sfx, cols: k + sfx if k + sfx in cols else k  # noqa: E731
    cond = [
        lsdf[fix(lk, suffixes[0], lsdf.columns)]
        == rsdf[fix(rk, suffixes[1], rsdf.columns)]
        for lk, rk in zip(lkeys, rkeys)
    ]
    out = lsdf.join(rsdf, on=cond, how=how)
    return DaskFrame(_with_indicator(out))


def _asof_keyless_base(unioned, on: str, payload, direction: str):
    """Keyless as-of support: range-bucket the tagged union by ``on``
    (parallel — NEVER a single-partition window) and seed each bucket
    with its cross-boundary carry row, so the within-bucket window fill
    is exact even when a bucket contains no right row.

    Per-bucket boundary rows (the last right row per bucket for
    backward, first for forward) are the ONLY driver data — #buckets
    structs, the same shape as dask's divisions. A driver prefix scan
    turns them into one seed row per bucket, unioned back as synthetic
    right rows; range partitioning keeps equal keys in one bucket, so a
    seed always sorts strictly before (after) every core row."""
    from dask_spark.operators.sort import range_bucket

    spark = unioned.sparkSession
    tagged, n = range_bucket(unioned, on)
    struct = F.struct(F.col(on).alias("__on"),
                      *[F.col(c).alias(c) for c in payload])
    dirs = [d for d in ("backward", "forward") if direction in (d, "nearest")]
    picks = {"backward": F.max_by(struct, F.col(on)).alias("s_b"),
             "forward": F.min_by(struct, F.col(on)).alias("s_f")}
    rows = (
        tagged.filter(F.col("__side") == 0)
        .groupBy("__pid").agg(*[picks[d] for d in dirs]).collect()
    )
    seed_rows = []
    for d in dirs:
        key = "s_b" if d == "backward" else "s_f"
        bounds = {r["__pid"]: r[key] for r in rows}
        carry, cur = {}, None
        pids = range(n) if d == "backward" else range(n - 1, -1, -1)
        for pid in pids:
            carry[pid] = cur
            if bounds.get(pid) is not None:
                cur = bounds[pid]
        seed_rows += [
            (pid, s["__on"], *[s[c] for c in payload])
            for pid, s in carry.items() if s is not None
        ]
    if not seed_rows:
        return tagged
    from pyspark.sql.types import IntegerType, StructField, StructType

    schema = StructType(
        [StructField("__pid", IntegerType()),
         StructField(on, unioned.schema[on].dataType)]
        + [StructField(c, unioned.schema[c].dataType) for c in payload]
    )
    seeds = spark.createDataFrame(seed_rows, schema)
    for c in tagged.columns:
        if c not in seeds.columns:
            if c == "__side":
                seeds = seeds.withColumn(c, F.lit(0))
            else:
                seeds = seeds.withColumn(
                    c, F.lit(None).cast(unioned.schema[c].dataType)
                )
    return tagged.unionByName(seeds.select(*tagged.columns))


def merge_asof(left, right, on: str, by=None, direction: str = "backward",
               tolerance=None, suffixes=("", "_right"),
               allow_exact_matches: bool = True):
    """As-of join via union + window fill (no per-row search, no cross
    join): tag both sides, union, sort within (by, on) partitions, then
    for each left row take the last (backward) / next (forward) right
    row's payload with a window ``last(ignorenulls)``. Scales as one
    shuffle of |L|+|R| rows on the by-key; with no by-key the union is
    range-bucketed on ``on`` with driver-combined carry seeds
    (_asof_keyless_base) — parallel in both cases.

    All three pandas directions (reference:
    dask/dataframe/dask_expr/_merge_asof.py:31) are supported.
    ``nearest`` computes the backward and forward fills over the SAME
    partitioning (one shuffle, two in-partition sorts) and picks the
    closer match per row, ties to backward like pandas.
    ``allow_exact_matches=False`` flips the side tiebreak in the sort so
    equal-``on`` right rows fall outside the window frame — strictness
    costs nothing extra."""
    from dask_spark.frame import DaskFrame

    by = [] if by is None else ([by] if isinstance(by, str) else list(by))
    lsdf, rsdf = left._sdf, right._sdf

    payload = [c for c in rsdf.columns if c != on and c not in by]
    ren = {c: (c + suffixes[1] if c in lsdf.columns else c) for c in payload}
    for old, new in ren.items():
        if old != new:
            rsdf = rsdf.withColumnRenamed(old, new)
    payload = list(ren.values())

    lcols = lsdf.columns
    l_tagged = lsdf.withColumn("__side", F.lit(1))
    for c in payload:
        l_tagged = l_tagged.withColumn(c, F.lit(None).cast(rsdf.schema[c].dataType))
    r_tagged = rsdf.withColumn("__side", F.lit(0))
    for c in lcols:
        if c != on and c not in by:
            r_tagged = r_tagged.withColumn(c, F.lit(None).cast(lsdf.schema[c].dataType))
    unioned = l_tagged.select(*lcols, *payload, "__side").unionByName(
        r_tagged.select(*lcols, *payload, "__side")
    )

    if direction not in ("backward", "forward", "nearest"):
        raise ValueError("direction must be backward|forward|nearest")
    if by:
        part = by
    else:
        unioned = _asof_keyless_base(unioned, on, payload, direction)
        part = ["__pid"]

    def fills(forward: bool):
        # With exact matches allowed, right rows sort on the side of the
        # left row that puts them INSIDE its frame at equal `on`
        # (before for backward, after for forward); allow_exact=False
        # flips the tiebreak so they fall outside.
        if not forward:
            side = (F.col("__side").asc() if allow_exact_matches
                    else F.col("__side").desc())
            w = (
                Window.partitionBy(*part)
                .orderBy(F.col(on).asc(), side)
                .rowsBetween(Window.unboundedPreceding, Window.currentRow)
            )
            fn = F.last
        else:
            side = (F.col("__side").desc() if allow_exact_matches
                    else F.col("__side").asc())
            w = (
                Window.partitionBy(*part)
                .orderBy(F.col(on).asc(), side)
                .rowsBetween(Window.currentRow, Window.unboundedFollowing)
            )
            fn = F.first
        fill = {
            c: fn(F.when(F.col("__side") == 0, F.col(c)), ignorenulls=True).over(w)
            for c in payload
        }
        match = fn(F.when(F.col("__side") == 0, F.col(on)), ignorenulls=True).over(w)
        return fill, match

    if direction == "nearest":
        bfill, bmatch = fills(False)
        ffill, fmatch = fills(True)
        out = unioned.withColumn("__bm", bmatch).withColumn("__fm", fmatch)
        if isinstance(unioned.schema[on].dataType, (TimestampType, TimestampNTZType)):
            from dask_spark.functions import epoch_us

            def dist(c):
                return F.abs(epoch_us(F.col(on)) - epoch_us(c))
        else:
            def dist(c):
                return F.abs(F.col(on) - c)

        use_b = F.col("__fm").isNull() | (
            F.col("__bm").isNotNull() & (dist(F.col("__bm")) <= dist(F.col("__fm")))
        )
        for c in payload:
            out = out.withColumn(c, F.when(use_b, bfill[c]).otherwise(ffill[c]))
        match_on = F.when(use_b, F.col("__bm")).otherwise(F.col("__fm"))
        out = out.withColumn("__match_on", match_on).drop("__bm", "__fm")
    else:
        fill, match_on = fills(direction == "forward")
        out = unioned
        for c, e in fill.items():
            out = out.withColumn(c, e)
        out = out.withColumn("__match_on", match_on)
    out = out.filter(F.col("__side") == 1).drop("__side")
    if not by:
        out = out.drop("__pid")
    if tolerance is not None:
        if isinstance(unioned.schema[on].dataType, (TimestampType, TimestampNTZType)):
            # numeric tolerance = seconds for timestamp keys (pandas
            # takes a Timedelta; interval-vs-number comparison would
            # throw in Spark). epoch_us handles both LTZ and NTZ keys.
            from dask_spark.functions import epoch_us

            diff = F.abs(
                epoch_us(F.col(on)) - epoch_us(F.col("__match_on"))
            ) / F.lit(1_000_000.0)
        else:
            diff = F.abs(F.col(on) - F.col("__match_on"))
        if hasattr(tolerance, "total_seconds"):  # pandas Timedelta
            tolerance = tolerance.total_seconds()
        within = diff <= F.lit(tolerance)
        for c in payload:
            out = out.withColumn(c, F.when(within, F.col(c)))
    return DaskFrame(out.drop("__match_on"))


def range_join(left, right, by, on: str, lower, upper,
               suffixes=("_l", "_r")):
    """Interval/range join: pair rows sharing ``by`` whose right.``on``
    falls in [left.on + lower, left.on + upper] (seconds for
    timestamps). The equi-key keeps it a hash/sort-merge join — the
    range predicate is a post-join filter evaluated inside the same
    stage, so no cross product ever materializes; the streaming twin is
    streaming/windows.stream_stream_join. dask/pandas have no
    distributed equivalent (merge_asof covers only nearest-one)."""
    import pyspark.sql.functions as F

    from dask_spark.frame import DaskFrame

    by = [by] if isinstance(by, str) else list(by)
    lsdf, rsdf = left._sdf, right._sdf
    shared = [c for c in lsdf.columns if c in rsdf.columns and c not in by]
    for c in shared:
        lsdf = lsdf.withColumnRenamed(c, c + suffixes[0])
        rsdf = rsdf.withColumnRenamed(c, c + suffixes[1])
    lo_expr = F.col(on + suffixes[0]) + F.make_interval(secs=F.lit(float(lower)))
    hi_expr = F.col(on + suffixes[0]) + F.make_interval(secs=F.lit(float(upper)))
    ron = F.col(on + suffixes[1])
    out = lsdf.join(rsdf, on=by, how="inner").filter(
        (ron >= lo_expr) & (ron <= hi_expr)
    )
    return DaskFrame(out)


def salted_join(big, small, on: str, salt: int = 16, how: str = "inner"):
    """Skew-mitigated equi-join: the BIG side salts each row with
    hash(whole row context-free: a uniform xxhash64 of its join key
    AND a per-row nonce) — here simply a uniform bucket from
    monotonically-unstable sources is WRONG, so the salt derives from
    xxhash64 over the row's own join key plus spark_partition_id and
    a row counter is unnecessary: a plain pmod over a per-row uniform
    (rand is non-deterministic under retries) must not be used either.
    The deterministic choice: salt = pmod(xxhash64(key, secondary
    columns...), S) would collapse per key. So the big side salts by
    pmod(xxhash64(monotonic row id), S)? Also retry-unstable.

    THE actually-safe construction used here: the SMALL side
    replicates each row S times (explode over sequence), the big side
    computes salt = pmod(crc32(cast(join key as string)) + pmod(
    monotonically_increasing_id(), S), S)? No — see below.

    Final contract (simple and retry-deterministic): the big side
    salts with pmod(xxhash64(<all big-side columns>), S) — a pure
    function of the ROW (identical on retries), uniform enough to
    split a hot key whose rows differ anywhere; fully-duplicate rows
    share a salt (they cannot be split deterministically without an
    id, documented). The small side explodes S copies keyed
    (key, salt), the join runs on the compound key, and the result
    is EXACTLY the plain join's multiset for inner/left joins.

    Mitigates the case AQE's skew handling misses: a single hot KEY
    inside one shuffle partition of a sort-merge join against a
    medium dim that is too big to broadcast."""
    from dask_spark.frame import DaskFrame

    if salt < 1:
        raise ValueError(f"salt must be >= 1, got {salt}")
    if how not in ("inner", "left"):
        raise ValueError("salted_join supports inner|left")
    b = big._sdf if isinstance(big, DaskFrame) else big
    s = small._sdf if isinstance(small, DaskFrame) else small
    salt_col = F.pmod(
        F.xxhash64(*[F.col(c) for c in b.columns]), F.lit(int(salt))
    ).cast("int")
    bs = b.withColumn("__salt", salt_col)
    ss = s.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(int(salt) - 1)))
    ).withColumn("__salt", F.col("__salt").cast("int"))
    out = bs.join(ss, [on, "__salt"], how).drop("__salt")
    return DaskFrame(out)


def apply_cdc(state, changes, key: str, seq_col: str = "seq",
              op_col: str = "op"):
    """Change-data-capture apply → the NEW state: Delta/Iceberg's
    MERGE INTO re-expressed as one window — union the current state
    (implicit op 'I', seq −∞) with the change log (op ∈ 'I'/'U'/'D',
    monotone ``seq_col``), keep each key's LATEST record by
    (seq, op) and drop it if that record is a delete.

    Exchange = one key-keyed window over state + changes (the change
    log is normally ≪ state, and the window's per-key frame is the
    key's record count — no driver data, no second pass). Ties on
    seq break by an explicit op priority D > U > I — a delete at the
    same sequence wins, the conservative CDC reading."""
    from dask_spark.frame import DaskFrame
    from pyspark.sql import Window

    s = state._sdf if isinstance(state, DaskFrame) else state
    c = changes._sdf if isinstance(changes, DaskFrame) else changes
    base_cols = [x for x in s.columns]
    if sorted(c.drop(seq_col, op_col).columns) != sorted(base_cols):
        raise ValueError(
            "apply_cdc: changes must carry the state schema plus "
            f"{seq_col!r}/{op_col!r}"
        )
    s0 = s.select(
        *base_cols,
        F.lit(-1).cast("bigint").alias("__seq"),
        F.lit("I").alias("__op"),
    )
    c0 = c.select(
        *base_cols,
        F.col(seq_col).cast("bigint").alias("__seq"),
        F.col(op_col).alias("__op"),
    )
    if c0.filter(F.col("__seq") < 0).limit(1).count():
        raise ValueError("apply_cdc: seq must be >= 0")
    u = s0.unionByName(c0)
    prio = (
        F.when(F.col("__op") == "D", 2)
        .when(F.col("__op") == "U", 1)
        .otherwise(0)
    )
    w = Window.partitionBy(key).orderBy(
        F.col("__seq").desc(), prio.desc()
    )
    latest = (
        u.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .filter(F.col("__op") != "D")
        .select(*base_cols)
    )
    return DaskFrame(latest)


def scd2_intervals(observations, key: str, attr: str, ts_col: str):
    """Slowly-changing-dimension (Type 2) history from an observation
    log → DaskFrame(key, attr, valid_from, valid_to, is_current):
    consecutive equal attribute observations collapse into ONE
    validity interval (gaps-and-islands over the per-key timeline),
    valid_to = the next interval's start (null while current) — the
    dimension-history builder every warehouse maintains beside CDC.

    One key-keyed window pass: change flags via lag, island ids via
    a running sum of flags, then a (key, island) aggregate and a lead
    for valid_to. Duplicate same-instant observations are broken by
    the attribute value (deterministic; document upstream dedup for
    true simultaneity). Null attrs count as a value (a NULL phase is
    itself history)."""
    from dask_spark.frame import DaskFrame

    sdf = (observations._sdf if isinstance(observations, DaskFrame)
           else observations)
    w = Window.partitionBy(key).orderBy(F.col(ts_col), F.col(attr))
    prev = F.lag(F.col(attr)).over(w)
    # row-1 detection must not rely on lag(ts) being null (a NULL
    # attr would also null a naive comparison chain): count the
    # window position instead, and compare attrs NULL-SAFELY
    pos = F.row_number().over(w)
    changed = (pos == 1) | ~F.col(attr).eqNullSafe(prev)
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    marked = (
        sdf.filter(F.col(ts_col).isNotNull() & F.col(key).isNotNull())
        .withColumn("__chg", changed.cast("int"))
        .withColumn("__isl", F.sum("__chg").over(wrun))
    )
    islands = marked.groupBy(key, "__isl").agg(
        F.first(F.col(attr)).alias(attr),
        F.min(F.col(ts_col)).alias("valid_from"),
    )
    w2 = Window.partitionBy(key).orderBy("__isl")
    out = islands.select(
        key, attr, "valid_from",
        F.lead("valid_from").over(w2).alias("valid_to"),
    ).withColumn("is_current", F.col("valid_to").isNull())
    return DaskFrame(out)


def key_skew_report(frame, key_col: str, top: int = 20):
    """Join-key skew diagnostic → DaskFrame(key, n, share, cum_share,
    skew_ratio), the ``top`` heaviest keys by row count — the
    pre-flight check before a big equi-join: a key carrying 10% of a
    100 TB fact table makes one reducer process 10 TB, and THIS table
    tells you whether to reach for salted_join / AQE skew-join and
    what salt factor to size (skew_ratio = n / mean-rows-per-key is
    the natural salt lower bound for the offending keys).

    100 TB shape: ONE key-bounded count aggregate (map-side combined)
    + a TakeOrdered top-k (never a global sort) + one scalar totals
    aggregate broadcast back; the window computing cum_share runs
    over ≤ ``top`` rows pinned to a literal partition key — bounded
    by construction, not by data. All ratios are deterministic
    divisions of exact int64 counts, oracle-replayable."""
    from dask_spark.frame import DaskFrame

    t = int(top)
    if t < 1:
        raise ValueError(f"top must be >= 1, got {t}")
    sdf = frame._sdf if isinstance(frame, DaskFrame) else frame
    counts = (
        sdf.filter(F.col(key_col).isNotNull())
        .groupBy(F.col(key_col).alias("key"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    totals = counts.agg(
        F.sum("n").cast("bigint").alias("__rows"),
        F.count(F.lit(1)).cast("bigint").alias("__keys"),
    )
    topk = counts.orderBy(F.col("n").desc(), F.col("key")).limit(t)
    w = (
        Window.partitionBy(F.lit(1))
        .orderBy(F.col("n").desc(), F.col("key"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = (
        topk.crossJoin(B(totals))
        .select(
            "key", "n",
            F.round(F.col("n").cast("double")
                    / F.col("__rows").cast("double"), 6).alias("share"),
            F.round(F.sum("n").over(w).cast("double")
                    / F.col("__rows").cast("double"), 6)
            .alias("cum_share"),
            F.round(F.col("n").cast("double") * F.col("__keys").cast("double")
                    / F.col("__rows").cast("double"), 6)
            .alias("skew_ratio"),
        )
    )
    return DaskFrame(out)
