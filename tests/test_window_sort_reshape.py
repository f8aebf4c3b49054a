"""Window / rolling / resample / sort / reshape parity (reference:
dask/dataframe/rolling.py, tseries/resample.py, reshape.py,
dask_expr/_shuffle.py sort_values/set_index)."""

from __future__ import annotations

import pandas as pd
import pytest

from tests.conftest import assert_eq


def test_rolling_rows(spark):
    import dask_spark as ds

    pdf = pd.DataFrame({"ts": range(10), "v": [1.0, 2, 3, 4, 5, 6, 7, 8, 9, 10]})
    got = ds.from_pandas(pdf).rolling(3, on="ts").mean("v").compute()
    want = pdf.assign(v_roll_mean=pdf.v.rolling(3, min_periods=1).mean())
    assert_eq(got, want, sort_by=["ts"])


def test_rolling_by_key(spark):
    import dask_spark as ds

    pdf = pd.DataFrame(
        {"g": ["a", "a", "a", "b", "b"], "ts": [1, 2, 3, 1, 2],
         "v": [1.0, 2, 3, 10, 20]}
    )
    got = ds.from_pandas(pdf).rolling(2, on="ts", by="g").sum("v").compute()
    want = pdf.assign(
        v_roll_sum=pdf.groupby("g").v.rolling(2, min_periods=1).sum()
        .reset_index(level=0, drop=True)
    )
    assert_eq(got, want, sort_by=["g", "ts"])


def test_rolling_time_range(spark):
    import dask_spark as ds

    ts = pd.to_datetime(
        ["2026-01-01 00:00", "2026-01-01 00:30", "2026-01-01 02:00",
         "2026-01-01 02:30"]
    )
    pdf = pd.DataFrame({"ts": ts, "v": [1.0, 2.0, 4.0, 8.0]})
    got = ds.from_pandas(pdf).rolling("1h", on="ts").sum("v").compute()
    want = pdf.assign(v_roll_sum=pdf.rolling("1h", on="ts").v.sum())
    assert_eq(got, want, sort_by=["ts"])


def test_shift_diff_cum(spark):
    import dask_spark as ds
    from dask_spark.operators.window import cumulative, diff, shift

    pdf = pd.DataFrame({"ts": [1, 2, 3, 4], "v": [1.0, 3.0, 6.0, 10.0]})
    f = ds.from_pandas(pdf)
    s = shift(f, "v", order_by="ts").compute().sort_values("ts")
    assert s.v_shift.tolist()[1:] == [1.0, 3.0, 6.0]
    d = diff(f, "v", order_by="ts").compute().sort_values("ts")
    assert d.v_diff.tolist()[1:] == [2.0, 3.0, 4.0]
    c = cumulative(f, "v", "sum", order_by="ts").compute().sort_values("ts")
    assert c.v_cumsum.tolist() == [1.0, 4.0, 10.0, 20.0]


def test_resample(tables, pdf_tables):
    import pyspark.sql.functions as F

    from dask_spark.frame import DaskFrame

    # older testdata stored ts as TIMESTAMP(NANOS) read back as long —
    # floor those to µs; newer testdata is already a timestamp type
    esdf = tables["events"].to_spark()
    if dict(esdf.dtypes).get("ts") == "bigint":
        esdf = esdf.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    e = DaskFrame(esdf)
    got = e.resample("1h", on="ts").agg({"value": ["sum", "count"]})
    p = pdf_tables["events"]
    want = (
        p.set_index(pd.to_datetime(p.ts))
        .resample("1h")
        .agg(value_sum=("value", "sum"), value_count=("value", "count"))
        .reset_index()
        .rename(columns={"ts": "ts_bucket"})
    )
    want = want[want.value_count > 0]  # spark emits no empty buckets
    assert_eq(got, want, sort_by=["ts_bucket"])


def test_resample_closed_label(tables, pdf_tables):
    """closed=/label= parity with pandas (reference:
    dask/dataframe/tseries/resample.py:66 threads both to pandas),
    including the right-closed boundary rule (edge timestamps belong
    to the bin they END) and the W-SUN anchored weekly default."""
    import pyspark.sql.functions as F

    from dask_spark.frame import DaskFrame

    esdf = tables["events"].to_spark()
    if dict(esdf.dtypes).get("ts") == "bigint":
        esdf = esdf.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    e = DaskFrame(esdf)
    p = pdf_tables["events"]
    pi = p.set_index(pd.to_datetime(p.ts))

    cases = [
        ("1h", {"closed": "right"}),
        ("1h", {"closed": "right", "label": "right"}),
        ("6h", {"closed": "left", "label": "right"}),
        ("1d", {"closed": "right", "label": "left"}),
        ("1w", {}),                      # pandas default: right/right
        ("1w", {"closed": "left", "label": "left"}),
    ]
    for rule, kw in cases:
        got = e.resample(rule, on="ts", **kw).agg(
            {"value": ["sum", "count"]}
        )
        want = (
            pi.resample(rule.lstrip("1").replace("w", "W"), **kw)
            .agg(value_sum=("value", "sum"),
                 value_count=("value", "count"))
            .reset_index()
            .rename(columns={"ts": "ts_bucket"})
        )
        want = want[want.value_count > 0]
        assert_eq(got, want, sort_by=["ts_bucket"])


def test_resample_closed_boundary_rows(spark):
    """Hand-built boundary: a timestamp exactly on a bin edge flips
    buckets between closed='left' and closed='right'."""
    from dask_spark.frame import DaskFrame

    pdf = pd.DataFrame({
        "ts": pd.to_datetime(
            ["2024-01-01 00:00", "2024-01-01 12:00", "2024-01-02 00:00"]
        ),
        "v": [1.0, 1.0, 1.0],
    })
    e = DaskFrame(spark.createDataFrame(pdf))
    left = e.resample("1d", on="ts").agg({"v": "sum"}).compute()
    right = e.resample("1d", on="ts", closed="right").agg(
        {"v": "sum"}
    ).compute()
    lm = dict(zip(pd.to_datetime(left["ts_bucket"]), left["v_sum"]))
    rm = dict(zip(pd.to_datetime(right["ts_bucket"]), right["v_sum"]))
    assert lm == {pd.Timestamp("2024-01-01"): 2.0,
                  pd.Timestamp("2024-01-02"): 1.0}
    assert rm == {pd.Timestamp("2023-12-31"): 1.0,
                  pd.Timestamp("2024-01-01"): 2.0}


def test_sort_values_global(tables, pdf_tables):
    li = tables["lineitem"]
    got = li.sort_values(["l_extendedprice"], ascending=False)[
        ["l_orderkey", "l_linenumber", "l_extendedprice"]
    ].compute()
    want = (
        pdf_tables["lineitem"]
        .sort_values("l_extendedprice", ascending=False)[
            ["l_orderkey", "l_linenumber", "l_extendedprice"]
        ]
        .reset_index(drop=True)
    )
    # global order is what matters
    assert got.l_extendedprice.tolist() == want.l_extendedprice.tolist()


def test_sort_values_na_position(spark):
    """pandas parity: NaNs sort LAST by default in BOTH directions
    (Spark's bare asc() is nulls-first — the placement must be
    pinned); na_position='first' flips both."""
    import dask_spark as ds

    pdf = pd.DataFrame({"k": [3.0, None, 1.0, 2.0, None], "v": range(5)})
    frame = ds.from_pandas(pdf)
    for asc in (True, False):
        for pos in ("last", "first"):
            got = frame.sort_values("k", ascending=asc,
                                    na_position=pos).compute()
            want = pdf.sort_values("k", ascending=asc, na_position=pos)
            assert got.v.tolist() == want.v.tolist(), (asc, pos)
    with pytest.raises(ValueError):
        frame.sort_values("k", na_position="middle")


def test_topk(tables, pdf_tables):
    got = tables["orders"].nlargest(5, "o_totalprice").compute()
    want = pdf_tables["orders"].nlargest(5, "o_totalprice")
    assert got.o_totalprice.tolist() == want.o_totalprice.tolist()
    got2 = tables["orders"].nsmallest(5, "o_totalprice").compute()
    want2 = pdf_tables["orders"].nsmallest(5, "o_totalprice")
    assert got2.o_totalprice.tolist() == want2.o_totalprice.tolist()


def test_set_index_range_partitions(tables):
    f = tables["orders"].set_index("o_orderkey", npartitions=4)
    sdf = f.to_spark()
    assert sdf.rdd.getNumPartitions() == 4
    # within-partition sortedness (divisions semantics)
    import pandas as pd

    def check(it):
        for pdf in it:
            yield pd.DataFrame({"ok": [pdf.o_orderkey.is_monotonic_increasing]})

    flags = sdf.mapInPandas(check, "ok boolean").toPandas()
    assert flags.ok.all()


def test_drop_duplicates(spark):
    import dask_spark as ds

    pdf = pd.DataFrame({"k": [1, 1, 2, 2, 3], "v": [1, 1, 2, 9, 3]})
    f = ds.from_pandas(pdf)
    assert len(f.drop_duplicates().compute()) == 4
    assert len(f.drop_duplicates(subset=["k"]).compute()) == 3


def test_pivot_table(tables, pdf_tables):
    got = tables["lineitem"].pivot_table(
        index="l_returnflag", columns="l_linestatus", values="l_quantity",
        aggfunc="sum",
    )
    p = pdf_tables["lineitem"]
    want = (
        p.pivot_table(
            index="l_returnflag", columns="l_linestatus", values="l_quantity",
            aggfunc="sum",
        )
        .reset_index()
        .rename_axis(None, axis=1)
    )
    assert_eq(got, want, sort_by=["l_returnflag"])


def test_melt(spark):
    import dask_spark as ds

    pdf = pd.DataFrame({"id": [1, 2], "a": [1.0, 2.0], "b": [3.0, 4.0]})
    got = ds.from_pandas(pdf).melt(id_vars="id", value_vars=["a", "b"])
    want = pdf.melt(id_vars="id", value_vars=["a", "b"])
    assert_eq(got, want, sort_by=["id", "variable"])


def test_explode(spark):
    import dask_spark as ds

    pdf = pd.DataFrame({"id": [1, 2], "xs": [[1, 2, 3], [4]]})
    got = ds.from_pandas(pdf).explode("xs")
    want = pdf.explode("xs")
    want["xs"] = want["xs"].astype("int64")
    assert_eq(got, want, sort_by=["id", "xs"])


def test_get_dummies(spark):
    import dask_spark as ds

    pdf = pd.DataFrame({"c": ["x", "y", "x", "z"]})
    got = ds.from_pandas(pdf).get_dummies("c").compute()
    assert sorted(c for c in got.columns if c.startswith("c_")) == [
        "c_x", "c_y", "c_z",
    ]
    assert got.c_x.sum() == 2 and got.c_y.sum() == 1 and got.c_z.sum() == 1


def test_map_overlap_centered_sum(spark):
    import numpy as np

    import dask_spark as ds
    from dask_spark.operators.window import map_overlap

    pdf = pd.DataFrame({"t": np.arange(100), "v": np.arange(100) * 1.0})

    def centered(p):
        return pd.DataFrame({"t": p["t"], "out": p.v + p.v.shift(1) + p.v.shift(-1)})

    got = (
        map_overlap(
            ds.from_pandas(pdf), centered, "t bigint, out double",
            on="t", before=1.5, after=1.5, npartitions=7,
        )
        .compute()
        .sort_values("t", ignore_index=True)
    )
    want = pdf.v + pdf.v.shift(1) + pdf.v.shift(-1)
    assert got.out.fillna(-1).tolist() == want.fillna(-1).tolist()


def test_histogram(tables, pdf_tables):
    import numpy as np

    from dask_spark.operators.reductions import histogram

    got = (
        histogram(tables["lineitem"], "l_quantity", bins=10)
        .compute()
        .sort_values("bucket")
    )
    p = pdf_tables["lineitem"].l_quantity
    counts, edges = np.histogram(p, bins=10, range=(p.min(), p.max()))
    want = {i: c for i, c in enumerate(counts) if c > 0}
    assert dict(zip(got.bucket, got.n)) == want


def test_vec_argmax(tables):
    import pyspark.sql.functions as F

    from dask_spark.functions.vector import argmax, argmin

    e = tables["embeddings"].to_spark().limit(50)
    pdf = e.select("vec_id", "embedding",
                   argmax(F.col("embedding")).alias("amax"),
                   argmin(F.col("embedding")).alias("amin")).toPandas()
    for r in pdf.itertuples():
        v = list(r.embedding)
        assert v[r.amax] == max(v) and v[r.amin] == min(v)


def test_rolling_apply(spark):
    import numpy as np

    import dask_spark as ds

    pdf = pd.DataFrame({"t": range(8), "v": [1.0, 4, 2, 8, 5, 7, 3, 6]})
    got = (
        ds.from_pandas(pdf)
        .rolling(3, on="t")
        .apply("v", lambda a: float(np.median(a)))
        .compute()
        .sort_values("t")
    )
    want = pdf.v.rolling(3, min_periods=1).median()
    assert got.v_roll_apply.tolist() == want.tolist()


def test_align(spark):
    import dask_spark as ds

    a = ds.from_pandas(pd.DataFrame({"k": [1, 2, 3], "x": [10, 20, 30]}))
    b = ds.from_pandas(pd.DataFrame({"k": [2, 3, 4], "y": [200, 300, 400]}))
    la, ra = a.align(b, on="k", join="outer")
    la, ra = la.compute().sort_values("k"), ra.compute().sort_values("k")
    assert la.k.tolist() == ra.k.tolist() == [1, 2, 3, 4]
    assert la.x.fillna(-1).tolist() == [10, 20, 30, -1]
    assert ra.y.fillna(-1).tolist() == [-1, 200, 300, 400]
    li, ri = a.align(b, on="k", join="inner")
    assert li.compute().k.tolist() == sorted(ri.compute().k.tolist()) == [2, 3]


def test_explode_keeps_empty_as_null(spark):
    import dask_spark as ds

    pdf = pd.DataFrame({"id": [1, 2], "xs": [[1, 2], []]})
    got = ds.from_pandas(pdf).explode("xs").compute().sort_values(
        "id", ignore_index=True
    )
    # pandas: empty list row kept with NaN
    assert len(got) == 3
    assert got["xs"].isna().sum() == 1


def test_keyless_shift_parity_multi_partition(spark):
    """Keyless shift must be correct ACROSS range-bucket boundaries
    (halo rows shipped between buckets) and must not collapse to one
    partition (round-2 weak item)."""
    import pyspark.sql.functions as F

    from dask_spark.frame import DaskFrame
    from dask_spark.operators.window import shift

    sdf = spark.range(20_000).select(
        (F.col("id") * 2654435761 % 20_000).alias("t"),
        (F.col("id") % 97).cast("double").alias("v"),
    )
    got = shift(DaskFrame(sdf), "v", periods=3, order_by="t")
    n_parts = (
        got.to_spark().groupBy(F.spark_partition_id().alias("p")).count().count()
    )
    assert n_parts > 1, "keyless shift collapsed to a single partition"
    p = sdf.toPandas().sort_values("t", ignore_index=True)
    want = p.assign(v_shift=p.v.shift(3))
    assert_eq(got, want, sort_by=["t"])

    lead = shift(DaskFrame(sdf), "v", periods=-2, order_by="t")
    want_lead = p.assign(v_shift=p.v.shift(-2))
    assert_eq(lead, want_lead, sort_by=["t"])


def test_keyless_cumulative_parity_multi_partition(spark):
    """Keyless cumsum/cummax/cumprod: two-pass prefix scan (per-bucket
    running agg + driver offsets) must equal pandas' global scan."""
    import pyspark.sql.functions as F

    from dask_spark.frame import DaskFrame
    from dask_spark.operators.window import cumulative

    sdf = spark.range(10_000).select(
        (F.col("id") * 48271 % 10_000).alias("t"),
        ((F.col("id") % 13).cast("double") - 6.0).alias("v"),
    )
    p = sdf.toPandas().sort_values("t", ignore_index=True)
    for fn, want_col in [
        ("sum", p.v.cumsum()),
        ("max", p.v.cummax()),
        ("min", p.v.cummin()),
    ]:
        got = cumulative(DaskFrame(sdf), "v", fn, order_by="t")
        want = p.assign(**{f"v_cum{fn}": want_col})
        assert_eq(got, want, sort_by=["t"])


def test_keyless_rolling_parity_multi_partition(spark):
    """Keyless rolling(25) across bucket boundaries matches pandas."""
    import pyspark.sql.functions as F

    from dask_spark.frame import DaskFrame

    sdf = spark.range(5_000).select(
        (F.col("id") * 16807 % 5_000).alias("t"),
        (F.col("id") % 31).cast("double").alias("v"),
    )
    p = sdf.toPandas().sort_values("t", ignore_index=True)
    got = DaskFrame(sdf).rolling(25, on="t").mean("v")
    want = p.assign(v_roll_mean=p.v.rolling(25, min_periods=1).mean())
    assert_eq(got, want, sort_by=["t"])


def test_keyless_asof_sparse_right(spark):
    """Keyless merge_asof where the right side is SPARSE (3 rows vs 5k
    left rows): the match must carry across many empty range buckets —
    exercises the driver prefix-scan seeding."""
    import pandas as pd

    import dask_spark as ds

    left = pd.DataFrame({"t": list(range(0, 5000)), "lv": range(5000)})
    right = pd.DataFrame({"t": [100, 2500, 4900], "rv": [1.0, 2.0, 3.0]})
    for direction in ("backward", "forward"):
        got = ds.from_pandas(left).merge_asof(
            ds.from_pandas(right), on="t", direction=direction
        )
        want = pd.merge_asof(left, right, on="t", direction=direction)
        assert_eq(got, want, sort_by=["t"])


def test_keyless_ffill_bfill_cross_bucket(spark):
    """Keyless ffill/bfill must carry values ACROSS range buckets —
    long null runs spanning whole buckets are filled from the last
    non-null bucket (two-pass carry), matching pandas exactly."""
    import numpy as np
    import pandas as pd

    import dask_spark as ds

    rng = np.random.RandomState(3)
    n = 4000
    v = rng.rand(n)
    v[200:3200] = np.nan          # a null run spanning many buckets
    v[::7] = np.nan
    pdf = pd.DataFrame({"t": np.arange(n), "v": v})
    f = ds.from_pandas(pdf, npartitions=8)

    got_f = f.ffill("v", order_by="t").compute().sort_values("t", ignore_index=True)
    want_f = pdf.sort_values("t", ignore_index=True).assign(v=pdf.v.ffill())
    pd.testing.assert_series_equal(got_f.v, want_f.v, check_exact=True)

    got_b = f.bfill("v", order_by="t").compute().sort_values("t", ignore_index=True)
    want_b = pdf.sort_values("t", ignore_index=True).assign(v=pdf.v.bfill())
    pd.testing.assert_series_equal(got_b.v, want_b.v, check_exact=True)

    pct = f.pct_change("v", order_by="t").compute().sort_values("t", ignore_index=True)
    want_pct = pdf.v - pdf.v.shift(1)
    want_pct = (want_pct / pdf.v.shift(1))
    pd.testing.assert_series_equal(
        pct.v_pct_change, want_pct.rename("v_pct_change"), check_exact=True
    )


def test_range_bucket_binary_search_2048_cuts(spark):
    """Scale guard: bucket lookup must be a binary search — per-row
    cost and generated-code size O(log #buckets), never a CASE chain
    linear in bucket count (round-4 weak finding). Verified two ways:
    exact agreement with numpy searchsorted over 2,048 buckets, and a
    plan whose conditional count stays logarithmic."""
    import io
    import re
    from contextlib import redirect_stdout

    import numpy as np
    import pyspark.sql.functions as F

    from dask_spark.operators.sort import range_bucket, range_cuts

    sdf = spark.range(20000).withColumn(
        "x", ((F.col("id") * 37) % 9973).cast("double")
    )
    cuts, numeric = range_cuts(sdf, "x", 2048)
    assert numeric and len(cuts) > 1500  # enough distinct cuts to mean it
    bucketed, nb = range_bucket(sdf, "x", 2048)
    assert nb == len(cuts) + 1

    rows = bucketed.select("x", "__pid").collect()
    arr = np.asarray(cuts)
    expect = np.searchsorted(arr, [r["x"] for r in rows], side="right")
    got = np.array([r["__pid"] for r in rows])
    assert (got == expect).all()

    buf = io.StringIO()
    with redirect_stdout(buf):
        bucketed.explain("formatted")
    n_when = len(re.findall(r"CASE WHEN", buf.getvalue()))
    # ceil(log2(2049)) = 12 steps x 2 conditionals + final null guard;
    # the old linear chain would emit ~2047
    assert n_when < 100, f"bucket lookup no longer logarithmic: {n_when} CASE WHENs"


def test_rolling_quantile_family_parity(spark):
    """quantile/median/skew/kurt/cov/corr vs pandas rolling (the dask
    oracle), keyed and keyless (halo) paths."""
    import numpy as np
    import pandas as pd

    import dask_spark as ds

    n = 240
    pdf = pd.DataFrame(
        {
            "t": np.arange(n),
            "k": np.arange(n) % 3,
            "v": np.sin(np.arange(n) * 1.7) * 10,
            "u": np.cos(np.arange(n) * 0.9) * 5,
        }
    )
    f = ds.from_pandas(pdf)

    def check(got, exp, col):
        got = got.compute().sort_values(["k", "t"]).reset_index(drop=True)
        np.testing.assert_allclose(
            got[col].to_numpy(), exp.to_numpy(), rtol=1e-9, atol=1e-9
        )

    by = pdf.sort_values(["k", "t"]).groupby("k")
    r = lambda: f.rolling(5, on="t", by="k", min_periods=1)  # noqa: E731
    check(r().quantile("v", 0.25), by["v"].rolling(5, min_periods=1)
          .quantile(0.25).reset_index(drop=True), "v_roll_quantile")
    check(r().median("v"), by["v"].rolling(5, min_periods=1)
          .median().reset_index(drop=True), "v_roll_median")
    check(r().skew("v"), by["v"].rolling(5, min_periods=1)
          .skew().reset_index(drop=True), "v_roll_skew")
    check(r().kurt("v"), by["v"].rolling(5, min_periods=1)
          .kurt().reset_index(drop=True), "v_roll_kurt")

    # two-column rolling cov/corr (keyed)
    exp_cov = (
        pdf.sort_values(["k", "t"]).groupby("k")
        .apply(lambda g: g["v"].rolling(5, min_periods=1).cov(g["u"]),
               include_groups=False)
        .reset_index(drop=True)
    )
    check(r().cov("v", "u"), exp_cov, "v_roll_cov")
    exp_corr = (
        pdf.sort_values(["k", "t"]).groupby("k")
        .apply(lambda g: g["v"].rolling(5, min_periods=1).corr(g["u"]),
               include_groups=False)
        .reset_index(drop=True)
    )
    check(r().corr("v", "u"), exp_corr, "v_roll_corr")

    # keyless path (range-bucket + halo, multi-partition)
    got = (
        f.rolling(7, on="t", min_periods=1).quantile("v", 0.5)
        .compute().sort_values("t").reset_index(drop=True)
    )
    exp = pdf["v"].rolling(7, min_periods=1).median()
    np.testing.assert_allclose(
        got["v_roll_quantile"].to_numpy(), exp.to_numpy(), rtol=1e-9, atol=1e-9
    )
    got_sk = (
        f.rolling(9, on="t", min_periods=1).skew("v")
        .compute().sort_values("t").reset_index(drop=True)
    )
    exp_sk = pdf["v"].rolling(9, min_periods=1).skew()
    np.testing.assert_allclose(
        got_sk["v_roll_skew"].to_numpy(), exp_sk.to_numpy(), rtol=1e-9, atol=1e-9
    )


def test_resample_ohlc_sem_size(spark):
    import pandas as pd

    import dask_spark as ds

    ts = pd.to_datetime("2026-01-01") + pd.to_timedelta(
        [0, 10, 20, 3600, 3610], unit="s"
    )
    pdf = pd.DataFrame({"ts": ts, "v": [3.0, 1.0, 2.0, 5.0, 4.0]})
    r = ds.from_pandas(pdf).resample("1h", on="ts")

    o = r.ohlc("v").compute().sort_values("ts_bucket").reset_index(drop=True)
    # bucket 1: values in time order 3,1,2 → open 3, high 3, low 1, close 2
    assert (o.loc[0, ["open", "high", "low", "close"]].tolist()
            == [3.0, 3.0, 1.0, 2.0])
    # bucket 2: 5,4 → open 5, close 4
    assert (o.loc[1, ["open", "high", "low", "close"]].tolist()
            == [5.0, 5.0, 4.0, 4.0])

    sz = r.size().compute().sort_values("ts_bucket")
    assert list(sz["size"]) == [3, 2]

    sem = r.sem("v").compute().sort_values("ts_bucket").reset_index(drop=True)
    expect = pdf.set_index("ts").resample("1h")["v"].sem()
    assert sem["v_sem"].tolist() == pytest.approx(expect.tolist())
    assert list(r.nunique("v").compute().columns) == ["ts_bucket", "v_nunique"]


def test_rolling_corr_zero_variance_window(spark):
    """A window whose order column has zero variance (identical
    timestamps in one range frame) must yield NULL, not an ANSI
    DIVIDE_BY_ZERO — window aggregates evaluate before any when()
    guard, so corr is formulated cov/nullif(sx*sy, 0) (sf0.1 repro)."""
    import pandas as pd

    import dask_spark as ds

    pdf = pd.DataFrame(
        {
            "u": [1] * 4,
            "ts": pd.to_datetime(["2026-01-01 00:00:00"] * 3 + ["2026-01-01 02:00:00"]),
            "v": [1.0, 2.0, 3.0, 4.0],
            "x": [5.0, 5.0, 5.0, 7.0],
        }
    )
    f = ds.from_pandas(pdf)
    out = f.rolling("1h", on="ts", by="u").corr("v", "x").compute()
    # the all-identical-x window gives NULL; no exception raised
    assert out["v_roll_corr"].isna().any()


def test_get_dummies_kwarg_depth(spark):
    """pandas/dask kwargs: prefix_sep, dummy_na (null indicator —
    without it null rows are all-zero), drop_first (k-1 encoding),
    dtype, and multi-column columns= in one projection."""
    import pandas as pd

    import dask_spark as ds
    from dask_spark.operators.reshape import get_dummies

    pdf = pd.DataFrame({"c": ["b", "a", None, "b"], "d": ["x", "y", "x", "x"]})
    f = ds.from_pandas(pdf)
    out = get_dummies(f, "c", prefix_sep="|", dummy_na=True).compute()
    assert {"c|a", "c|b", "c|nan"} <= set(out.columns)
    assert out["c|nan"].tolist() == [0, 0, 1, 0]
    assert out["c|a"].tolist() == [0, 1, 0, 0]
    # pandas parity on the same input
    want = pd.get_dummies(pdf, columns=["c"], prefix_sep="|",
                          dummy_na=True, dtype=int)
    assert out["c|b"].tolist() == want["c|b"].tolist()
    # drop_first drops the first sorted category
    k1 = get_dummies(f, "c", drop_first=True).compute()
    assert "c_a" not in k1.columns and "c_b" in k1.columns
    # dtype + multi-column
    mc = get_dummies(f, columns=["c", "d"], dtype="boolean").compute()
    assert {"c_a", "c_b", "d_x", "d_y"} <= set(mc.columns)
    assert mc["d_x"].dtype == bool or str(mc["d_x"].dtype) == "boolean"


def test_range_bucket_pins_nothing(spark):
    """range_bucket caches nothing: a bucketed projection is recomputed
    per read (the caching rule at operators/sort.py ``_PINNED``)."""
    from dask_spark.operators.sort import _PINNED, range_bucket

    sdf = spark.range(1000).selectExpr("id", "id * 2 as v")
    before = [id(p) for p in _PINNED]
    bucketed, n = range_bucket(sdf, "v")
    assert n >= 1
    assert [id(p) for p in _PINNED] == before
    assert bucketed.filter("__pid < 0 or __pid >= %d" % n).count() == 0
