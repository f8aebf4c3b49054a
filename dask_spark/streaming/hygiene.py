"""Streaming corpus hygiene: decontamination on an INGEST stream.

The bloom-filter probe (operators/dedup.contamination_bloom) is a
stateless scan→project plan — zero exchanges, zero aggregation state —
so it runs unchanged under Structured Streaming: build the constant
m_bits bitset ONCE from the static benchmark (a batch action), then
every microbatch probes map-only through the same Arrow probe kernel
as the batch operator — one implementation for both. This is the shape a production
ingest pipeline wants: the blocklist is a broadcast-sized literal baked
into the streaming plan; no state store, no watermark, exactly the
batch semantics per row (stream/batch EXACTNESS pinned in
tests/test_io_streaming.py)."""

from __future__ import annotations


def decontaminate_stream(stream_sdf, benchmark, text_col: str = "text",
                         id_col: str = "doc_id", ngram: int = 3,
                         m_bits: int = 4096, k: int = 3,
                         threshold: float = 0.5,
                         hash_kind: str = "md5"):
    """Apply bloom decontamination to a streaming corpus. ``benchmark``
    is a static DaskFrame/DataFrame (the eval blocklist); returns a
    streaming DataFrame of (id, total_grams, hit_grams, contaminated)
    — filter ``contaminated`` in the sink to quarantine leaks.
    Defaults mirror the batch twin exactly (same hash_kind, so bloom
    false positives align between a stream and its batch validation
    run); pass hash_kind="xxhash64" for the faster production mode on
    BOTH sides."""
    from dask_spark.operators.dedup import contamination_bloom

    return contamination_bloom(
        stream_sdf, benchmark, text_col=text_col, id_col=id_col,
        ngram=ngram, m_bits=m_bits, k=k, threshold=threshold,
        hash_kind=hash_kind,
    )._sdf


def dsir_score_stream(stream_sdf, target, raw_sample,
                      text_col: str = "text", id_col: str = "doc_id",
                      n_buckets: int = 1024, alpha: float = 1.0,
                      word_hash: str = "md5"):
    """DSIR importance scoring on an INGEST stream (ingest-time
    quality gating: keep web text that looks like the target corpus).
    The log-ratio table fits ONCE from two STATIC frames — ``target``
    (the reference corpus) and ``raw_sample`` (a static sample of the
    ingest distribution) — then rides the streaming plan as a
    length-n_buckets literal; scoring is a stateless scan→project per
    microbatch (no state store, no watermark, exactly the batch
    semantics per row). Returns a streaming DataFrame of
    (id, n_tokens, dsir_logweight) — threshold in the sink."""
    from dask_spark.operators.mixing import _dsir_apply, dsir_fit

    lam = dsir_fit(
        target, raw_sample, text_col=text_col,
        n_buckets=n_buckets, alpha=alpha, word_hash=word_hash,
    )
    return _dsir_apply(
        stream_sdf, lam, text_col=text_col, id_col=id_col,
        word_hash=word_hash,
    )


def cms_heavy_stream(stream_sdf, static_corpus, text_col: str = "text",
                     id_col: str = "doc_id", min_count: int = 100,
                     depth: int = 3, width: int = 1024,
                     hash_kind: str = "md5"):
    """Heavy-hitter boilerplate scoring on an INGEST stream: the
    count-min sketch builds ONCE from a static corpus (a batch
    action, depth*width bounded), then every microbatch scores
    map-only — the sketch is a plan literal, tokens never leave
    their row, no state store, no watermark, exactly the batch
    semantics per row (operators/sketch.py cms_doc_heavy_fraction;
    stream/batch exactness pinned in tests/test_io_streaming.py).
    Returns a streaming DataFrame of (id, n_tokens, heavy_frac)."""
    from dask_spark.operators.sketch import (
        cms_counts,
        cms_doc_heavy_fraction,
        cms_heavy_hitters,
    )

    counts = cms_counts(static_corpus, text_col, depth, width, hash_kind)
    terms = [
        r["term"]
        for r in cms_heavy_hitters(
            static_corpus, text_col, min_count=min_count, depth=depth,
            width=width, hash_kind=hash_kind, counts=counts,
        ).to_spark().collect()
    ]
    return cms_doc_heavy_fraction(
        stream_sdf, counts, text_col=text_col, id_col=id_col,
        min_count=min_count, depth=depth, width=width,
        hash_kind=hash_kind, heavy_terms=terms,
    )._sdf


def hll_distinct_stream(stream_sdf, value_col: str, p: int = 9,
                        hash_kind: str = "md5"):
    """Running distinct count on an INGEST stream with BOUNDED state:
    the streaming aggregate keys on the 2^p HLL register ids and
    keeps max(rho) — state is <= 2^p rows forever, where a streaming
    dropDuplicates would grow with the distinct count. Returns the
    streaming register table (register, max_rho); sink it with
    outputMode("update"/"complete") and feed the rows to
    operators/sketch.py hll_estimate_registers for the estimate —
    identical to the batch hll_count_distinct arithmetic, so a stream
    and its batch validation run agree bit-for-bit (pinned in
    tests/test_io_streaming.py)."""
    from dask_spark.operators.sketch import hll_registers

    return hll_registers(stream_sdf, value_col, p, hash_kind)._sdf


def psi_bucket_stream(stream_sdf, reference, value_col: str,
                      bins: int = 20):
    """PSI drift monitoring on an INGEST stream with BOUNDED state:
    bucket boundaries fit ONCE from the STATIC ``reference`` frame
    (min/width ride the streaming plan as literals — a stateless
    scan→project per row), then the streaming aggregate keys on the
    bucket id — state is <= ``bins`` rows forever. Returns
    (streaming bucket-count DataFrame (bucket, c), finish) where
    ``finish(rows)`` maps the sunk bucket counts to the PSI value
    with EXACTLY the batch psi_drift arithmetic (bucket-ordered
    left-to-right fold), so a stream and its batch validation run
    agree bit-for-bit (pinned in tests/test_io_streaming.py)."""
    import math

    import pyspark.sql.functions as F

    from dask_spark.operators.monitor import _bucket_counts

    if bins < 2:
        raise ValueError(f"bins must be >= 2, got {bins}")
    from dask_spark.frame import DaskFrame

    ref = reference._sdf if isinstance(reference, DaskFrame) else reference
    x = F.col(value_col).cast("double")
    mn, mx, n_ref = (
        ref.filter(x.isNotNull())
        .agg(F.min(x), F.max(x), F.count(F.lit(1))).first()
    )
    if not n_ref:
        raise ValueError("psi_bucket_stream: empty reference")
    mn, mx = float(mn), float(mx)
    B = int(bins)
    width = (mx - mn) / B if mx > mn else 1.0
    rc = _bucket_counts(ref, value_col, mn, width, B)

    sx = F.col(value_col).cast("double")
    b = F.least(
        F.greatest(F.floor((sx - F.lit(mn)) / F.lit(width)), F.lit(0)),
        F.lit(B - 1),
    ).cast("int")
    counts = (
        stream_sdf.filter(sx.isNotNull())
        .select(b.alias("bucket"))
        .groupBy("bucket").agg(F.count(F.lit(1)).alias("c"))
    )

    def finish(rows) -> float:
        cc = {int(r["bucket"]): int(r["c"]) for r in rows}
        n_cur = sum(cc.values())
        if not n_cur:
            raise ValueError("psi finish: empty current batch")
        psi = 0.0
        for i in range(B):
            p = (rc.get(i, 0) + 0.5) / (n_ref + 0.5 * B)
            q = (cc.get(i, 0) + 0.5) / (n_cur + 0.5 * B)
            psi = psi + (p - q) * math.log(p / q)
        return round(psi, 6)

    return counts, finish


def ks_binned_stream(stream_sdf, reference, value_col: str,
                     bins: int = 1024):
    """Binned two-sample KS drift on an INGEST stream with BOUNDED
    state — the streaming twin of operators/monitor.py ks_drift
    (exact=False, anchor="reference"): the bucket grid fits ONCE from
    the STATIC reference (min/width ride the streaming plan as
    literals; out-of-range stream values clamp into the tail buckets,
    the PSI convention — a stream cannot know the future union
    range), the streaming aggregate keys on the bucket id — state is
    ≤ ``bins`` rows forever — and ``finish(rows)`` folds the sunk
    bucket counts into D with EXACTLY the batch integer arithmetic
    (cumulative counts, max |r1·n_cur − r2·n_ref|, one float
    division), so a stream and its batch validation run agree
    bit-for-bit (pinned in tests/test_io_streaming.py). Returns
    (streaming bucket-count DataFrame (bucket, c), finish)."""
    import pyspark.sql.functions as F

    from dask_spark.frame import DaskFrame
    from dask_spark.operators.monitor import _bucket_counts

    if bins < 2:
        raise ValueError(f"bins must be >= 2, got {bins}")
    ref = reference._sdf if isinstance(reference, DaskFrame) else reference
    B = int(bins)
    x = F.col(value_col).cast("double")
    mn, mx, n_ref = (
        ref.filter(x.isNotNull())
        .agg(F.min(x), F.max(x), F.count(F.lit(1))).first()
    )
    if not n_ref:
        raise ValueError("ks_binned_stream: empty reference")
    mn, mx = float(mn), float(mx)
    sx = F.col(value_col).cast("double")
    if mx == mn:
        # constant reference: batch anchor="reference" puts EVERY
        # value in bucket 0 — mirror it exactly for stream==batch
        rc = {0: n_ref}
        b = F.lit(0).cast("int")
    else:
        width = (mx - mn) / B
        rc = _bucket_counts(ref, value_col, mn, width, B)
        b = F.least(
            F.greatest(F.floor((sx - F.lit(mn)) / F.lit(width)),
                       F.lit(0)),
            F.lit(B - 1),
        ).cast("int")
    n_ref = int(n_ref)
    counts = (
        stream_sdf.filter(sx.isNotNull())
        .select(b.alias("bucket"))
        .groupBy("bucket").agg(F.count(F.lit(1)).alias("c"))
    )

    def finish(rows, round_dp: int = 6):
        cc = {int(r["bucket"]): int(r["c"]) for r in rows}
        n_cur = sum(cc.values())
        if not n_cur:
            raise ValueError("ks finish: empty current batch")
        r1 = r2 = d_num = 0
        for i in range(B):
            r1 += rc.get(i, 0)
            r2 += cc.get(i, 0)
            d_num = max(d_num, abs(r1 * n_cur - r2 * n_ref))
        d_stat = round(float(d_num) / (float(n_ref) * float(n_cur)),
                       round_dp)
        return d_stat, d_num, n_ref, n_cur

    return counts, finish


def chi2_category_stream(stream_sdf, reference, cat_col: str):
    """Chi-square categorical drift on an INGEST stream with BOUNDED
    state — the streaming twin of operators/monitor.py chi2_drift
    (event-type / language / source mix shift at ingest time):
    reference counts collect ONCE from the static frame, the
    streaming aggregate keys on the category — state is
    <= |categories| rows forever (a streaming dropDuplicates or raw
    collect grows with the stream). Returns (streaming count
    DataFrame (k, c), finish) where ``finish(rows)`` folds the sunk
    category counts with EXACTLY the batch chi2_drift arithmetic
    (sorted-category order, per-category cell-pair sums first), so a
    stream and its batch validation run agree bit-for-bit."""
    import pyspark.sql.functions as F

    from dask_spark.frame import DaskFrame

    ref = reference._sdf if isinstance(reference, DaskFrame) else reference
    rc = {
        r["k"]: r["c"]
        for r in ref.filter(F.col(cat_col).isNotNull())
        .groupBy(F.col(cat_col).alias("k"))
        .agg(F.count(F.lit(1)).alias("c")).collect()
    }
    n_ref = sum(rc.values())
    if not n_ref:
        raise ValueError("chi2_category_stream: empty reference")

    counts = (
        stream_sdf.filter(F.col(cat_col).isNotNull())
        .groupBy(F.col(cat_col).alias("k"))
        .agg(F.count(F.lit(1)).alias("c"))
    )

    def finish(rows):
        cc = {r["k"]: int(r["c"]) for r in rows}
        n_cur = sum(cc.values())
        if not n_cur:
            raise ValueError("chi2 finish: empty current batch")
        cats = sorted(set(rc) | set(cc))
        n = float(n_ref + n_cur)
        chi2 = 0.0
        for k in cats:
            row = float(rc.get(k, 0) + cc.get(k, 0))
            e_ref = row * n_ref / n
            e_cur = row * n_cur / n
            d1 = rc.get(k, 0) - e_ref
            d2 = cc.get(k, 0) - e_cur
            chi2 = chi2 + ((d1 * d1) / e_ref + (d2 * d2) / e_cur)
        return round(chi2, 6), len(cats) - 1, n_ref, n_cur

    return counts, finish


def hll_distinct_windowed_stream(stream_sdf, value_col: str,
                                 ts_col: str = "ts",
                                 window: str = "1 day",
                                 watermark: str = "1 day",
                                 p: int = 9, hash_kind: str = "md5"):
    """PER-WINDOW distinct count on an INGEST stream with BOUNDED
    state — "daily unique users" without a per-user state store: the
    streaming aggregate keys on (event-time window, HLL register), so
    state is <= windows_in_flight * 2^p rows, and the watermark
    retires closed windows (streaming dropDuplicates state grows with
    distinct users per window; this never does). Returns the
    streaming register table (window_start, register, max_rho); feed
    each window's rows to operators/sketch.py hll_estimate_registers
    — identical arithmetic to the batch keyed hll_count_distinct, so
    stream == batch bit-for-bit (pinned in
    tests/test_io_streaming.py)."""
    import pyspark.sql.functions as F

    from dask_spark.operators.sketch import hll_registers

    wm = stream_sdf.withWatermark(ts_col, watermark)
    staged = wm.withColumn("__win", F.window(F.col(ts_col), window))
    regs = hll_registers(staged, value_col, p, hash_kind, ["__win"])._sdf
    return regs.select(
        F.col("__win.start").alias("window_start"), "register", "max_rho"
    )
