"""Reductions + groupby parity vs pandas (reference:
dask_expr/_reductions.py, _groupby.py — ACA → Spark partial agg)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from tests.conftest import assert_eq


def test_global_reductions(tables, pdf_tables):
    li = tables["lineitem"]
    p = pdf_tables["lineitem"]
    assert li.l_quantity.sum() == pytest.approx(p.l_quantity.sum())
    assert li.l_quantity.mean() == pytest.approx(p.l_quantity.mean())
    assert li.l_quantity.min() == p.l_quantity.min()
    assert li.l_quantity.max() == p.l_quantity.max()
    assert li.l_quantity.count() == p.l_quantity.count()
    assert li.l_quantity.std() == pytest.approx(p.l_quantity.std())
    assert li.l_quantity.var() == pytest.approx(p.l_quantity.var())


def test_nunique(tables, pdf_tables):
    li = tables["lineitem"]
    p = pdf_tables["lineitem"]
    exact = p.l_orderkey.nunique()
    assert li.l_orderkey.nunique() == exact
    approx = li.l_orderkey.nunique_approx()
    assert abs(approx - exact) / exact < 0.04  # HLL++ rsd 1%, 4σ slack


def test_quantile_median(tables, pdf_tables):
    li = tables["lineitem"]
    p = pdf_tables["lineitem"]
    got = li.l_extendedprice.quantile(0.5)
    want = p.l_extendedprice.median()
    assert abs(got - want) / want < 0.02  # GK sketch tolerance


def test_value_counts(tables, pdf_tables):
    got = tables["lineitem"].l_returnflag.value_counts()
    p = pdf_tables["lineitem"]
    want = (
        p.l_returnflag.value_counts()
        .rename_axis("l_returnflag")
        .reset_index(name="count")
    )
    assert_eq(got, want, sort_by=["l_returnflag"])


def test_corr_cov(tables, pdf_tables):
    li = tables["lineitem"]
    p = pdf_tables["lineitem"]
    assert li.corr("l_quantity", "l_extendedprice") == pytest.approx(
        p.l_quantity.corr(p.l_extendedprice), abs=1e-6
    )
    assert li.cov("l_quantity", "l_extendedprice") == pytest.approx(
        p.l_quantity.cov(p.l_extendedprice), rel=1e-6
    )


def test_describe_values(tables, pdf_tables):
    out = tables["lineitem"][["l_quantity", "l_discount"]].describe().compute()
    assert {"column", "count", "mean", "std", "min", "max"} <= set(out.columns)
    p = pdf_tables["lineitem"]
    row = out[out.column == "l_quantity"].iloc[0]
    assert row["count"] == len(p)
    assert row["mean"] == pytest.approx(p.l_quantity.mean())
    assert row["max"] == p.l_quantity.max()


def test_groupby_agg_dict(tables, pdf_tables):
    li = tables["lineitem"]
    got = li.groupby(["l_returnflag", "l_linestatus"]).agg(
        {"l_quantity": "sum", "l_extendedprice": "mean", "l_orderkey": "count"}
    )
    p = pdf_tables["lineitem"]
    want = (
        p.groupby(["l_returnflag", "l_linestatus"])
        .agg(
            l_quantity_sum=("l_quantity", "sum"),
            l_extendedprice_mean=("l_extendedprice", "mean"),
            l_orderkey_count=("l_orderkey", "count"),
        )
        .reset_index()
    )
    assert_eq(got, want, sort_by=["l_returnflag", "l_linestatus"])


def test_groupby_named_agg(tables, pdf_tables):
    li = tables["lineitem"]
    got = li.groupby("l_returnflag").agg(
        total=("l_quantity", "sum"), hi=("l_extendedprice", "max")
    )
    p = pdf_tables["lineitem"]
    want = (
        p.groupby("l_returnflag")
        .agg(total=("l_quantity", "sum"), hi=("l_extendedprice", "max"))
        .reset_index()
    )
    assert_eq(got, want, sort_by=["l_returnflag"])


def test_groupby_nunique(tables, pdf_tables):
    got = tables["lineitem"].groupby("l_returnflag").nunique(["l_orderkey"])
    p = pdf_tables["lineitem"]
    want = (
        p.groupby("l_returnflag")["l_orderkey"]
        .nunique()
        .reset_index(name="l_orderkey")
    )
    assert_eq(got, want, sort_by=["l_returnflag"])


def test_groupby_size_count(tables, pdf_tables):
    got = tables["orders"].groupby("o_orderpriority").size()
    p = pdf_tables["orders"]
    want = p.groupby("o_orderpriority").size().reset_index(name="size")
    assert_eq(got, want, sort_by=["o_orderpriority"])


def test_groupby_transform_broadcast(tables, pdf_tables):
    li = tables["lineitem"]
    got = li.groupby("l_orderkey").transform("sum", "l_quantity", out="order_qty")[
        ["l_orderkey", "l_linenumber", "order_qty"]
    ]
    p = pdf_tables["lineitem"]
    want = pd.DataFrame(
        {
            "l_orderkey": p.l_orderkey,
            "l_linenumber": p.l_linenumber,
            "order_qty": p.groupby("l_orderkey")["l_quantity"].transform("sum"),
        }
    )
    assert_eq(got, want)


def test_groupby_cumsum(tables, pdf_tables):
    li = tables["lineitem"]
    got = li.groupby("l_orderkey").cumsum("l_quantity", order_by="l_linenumber")[
        ["l_orderkey", "l_linenumber", "l_quantity_cumsum"]
    ]
    p = pdf_tables["lineitem"].sort_values(["l_orderkey", "l_linenumber"])
    want = pd.DataFrame(
        {
            "l_orderkey": p.l_orderkey,
            "l_linenumber": p.l_linenumber,
            "l_quantity_cumsum": p.groupby("l_orderkey")["l_quantity"].cumsum(),
        }
    )
    assert_eq(got, want)


def test_groupby_apply(tables, pdf_tables):
    li = tables["lineitem"]

    def top1(pdf: pd.DataFrame) -> pd.DataFrame:
        return pdf.nlargest(1, "l_quantity")[["l_orderkey", "l_quantity"]]

    got = li.groupby("l_orderkey").apply(top1, schema="l_orderkey long, l_quantity double")
    p = pdf_tables["lineitem"]
    want = (
        p.sort_values(["l_quantity", "l_orderkey"], ascending=[False, True])
        .groupby("l_orderkey", as_index=False)
        .first()[["l_orderkey", "l_quantity"]]
    )
    # compare per-key max quantity (apply keeps one row per key)
    g = got.compute().sort_values("l_orderkey", ignore_index=True)
    w = (
        p.groupby("l_orderkey", as_index=False)["l_quantity"]
        .max()
        .sort_values("l_orderkey", ignore_index=True)
    )
    assert (g.l_quantity.values == w.l_quantity.values).all()


def test_groupby_idxminmax(tables, pdf_tables):
    got = (
        tables["lineitem"]
        .groupby("l_returnflag")
        .idxmax("l_extendedprice", id_col="l_orderkey")
    )
    p = pdf_tables["lineitem"]
    idx = p.groupby("l_returnflag")["l_extendedprice"].idxmax()
    want = p.loc[idx, ["l_returnflag", "l_orderkey"]].rename(
        columns={"l_orderkey": "idxmax_l_extendedprice"}
    )
    assert_eq(got, want, sort_by=["l_returnflag"])


def test_groupby_nulls_in_keys(spark):
    """dropna=False keeps the null group; the default (pandas
    dropna=True) drops null-keyed rows entirely."""
    import dask_spark as ds

    pdf = pd.DataFrame({"k": ["a", None, "a", None, "b"], "v": [1, 2, 3, 4, 5]})
    frame = ds.from_pandas(pdf)
    got = (
        frame.groupby("k", dropna=False)
        .agg({"v": "sum"})
        .compute()
        .sort_values("k", ignore_index=True, na_position="last")
    )
    assert len(got) == 3
    assert got.v_sum.sum() == 15
    dropped = frame.groupby("k").agg({"v": "sum"}).compute()
    assert len(dropped) == 2 and dropped.v_sum.sum() == 9


def test_groupby_topk(tables, pdf_tables):
    got = (
        tables["supplier"]
        .groupby("s_nationkey")
        .topk(2, by="s_acctbal", tie_break="s_suppkey")
        .compute()
    )
    p = pdf_tables["supplier"]
    want = (
        p.sort_values(["s_acctbal", "s_suppkey"], ascending=[False, True])
        .groupby("s_nationkey")
        .head(2)
    )
    assert len(got) == len(want)
    assert sorted(got.s_suppkey) == sorted(want.s_suppkey)


def test_mean_std_vector(tables, pdf_tables):
    import numpy as np

    from dask_spark.functions.vector import mean_vector, std_vector

    emb = tables["embeddings"]
    M = np.stack(pdf_tables["embeddings"].embedding.values)
    got_mu = mean_vector(emb).compute().mean_vec.iloc[0]
    got_sd = std_vector(emb).compute().std_vec.iloc[0]
    assert np.allclose(got_mu, M.mean(axis=0), atol=1e-6)
    assert np.allclose(got_sd, M.std(axis=0), atol=1e-6)


def test_custom_aggregation_column_mode(tables, pdf_tables):
    """Aggregation(partials/finalize) — Spark-native chunk/agg/finalize
    (reference: dask/dataframe/groupby.py:197 Aggregation)."""
    import pyspark.sql.functions as F

    from dask_spark import Aggregation

    wavg = Aggregation(
        "wavg",
        partials=lambda v, w: {
            "s": F.sum(F.col(v) * F.col(w)),
            "w": F.sum(w),
        },
        finalize=lambda p: p["s"] / p["w"],
    )
    got = (
        tables["lineitem"]
        .groupby("l_returnflag")
        .agg(
            wavg_price=(("l_extendedprice", "l_quantity"), wavg),
            n=("l_quantity", "size"),
        )
    )
    p = pdf_tables["lineitem"]
    want = (
        p.groupby("l_returnflag")
        .apply(
            lambda g: pd.Series(
                {
                    "wavg_price": (g.l_extendedprice * g.l_quantity).sum()
                    / g.l_quantity.sum(),
                    "n": len(g),
                }
            ),
            include_groups=False,
        )
        .reset_index()
    )
    want["n"] = want["n"].astype("int64")
    assert_eq(got, want, sort_by=["l_returnflag"])


def test_custom_aggregation_dict_form(tables, pdf_tables):
    """Dict-form spec with an Aggregation value: output name <col>_<name>."""
    import pyspark.sql.functions as F

    from dask_spark import Aggregation

    spread = Aggregation(
        "spread",
        partials=lambda c: {"mx": F.max(c), "mn": F.min(c)},
        finalize=lambda p: p["mx"] - p["mn"],
    )
    got = tables["orders"].groupby("o_orderpriority").agg(
        {"o_totalprice": spread}
    )
    p = pdf_tables["orders"]
    want = (
        p.groupby("o_orderpriority")
        .o_totalprice.agg(lambda s: s.max() - s.min())
        .reset_index(name="o_totalprice_spread")
    )
    assert_eq(got, want, sort_by=["o_orderpriority"])


def test_custom_aggregation_pandas_mode(tables, pdf_tables):
    """Pandas-callable Aggregation → applyInPandas fallback; mixed with
    a built-in string fn so the whole spec runs in one pass."""
    from dask_spark import Aggregation

    geo = Aggregation(
        "geomean",
        chunk=lambda s: (s.abs().add(1.0)).prod() ** (1.0 / len(s)),
    )
    got = (
        tables["lineitem"]
        .groupby("l_linestatus")
        .agg(
            disc_geo=("l_discount", geo),
            qty_mean=("l_quantity", "mean"),
        )
    )
    p = pdf_tables["lineitem"]
    want = (
        p.groupby("l_linestatus")
        .apply(
            lambda g: pd.Series(
                {
                    "disc_geo": (g.l_discount.abs() + 1.0).prod()
                    ** (1.0 / len(g)),
                    "qty_mean": g.l_quantity.mean(),
                }
            ),
            include_groups=False,
        )
        .reset_index()
    )
    assert_eq(got, want, sort_by=["l_linestatus"])


def test_custom_aggregation_pandas_mode_with_size(tables, pdf_tables):
    """size/count string fns evaluated inside the applyInPandas path
    (pandas .size is an attribute, not a method — regression)."""
    from dask_spark import Aggregation

    med = Aggregation("median", chunk=lambda s: float(s.median()))
    got = (
        tables["orders"]
        .groupby("o_orderstatus")
        .agg(
            mid=("o_totalprice", med),
            n=("o_orderkey", "size"),
            k=("o_orderkey", "count"),
        )
    )
    p = pdf_tables["orders"]
    want = (
        p.groupby("o_orderstatus")
        .apply(
            lambda g: pd.Series(
                {"mid": g.o_totalprice.median(), "n": len(g), "k": len(g)}
            ),
            include_groups=False,
        )
        .reset_index()
    )
    want["n"] = want.n.astype("int64")
    want["k"] = want.k.astype("int64")
    assert_eq(got, want, sort_by=["o_orderstatus"])


def test_groupby_agg_all_numeric_forms(tables, pdf_tables):
    """dask's agg("sum") / agg(["sum", "mean"]) apply to every numeric
    non-key column."""
    got = tables["nation"].groupby("n_regionkey").agg("sum")
    p = pdf_tables["nation"]
    want = (
        p.groupby("n_regionkey")
        .agg(n_nationkey_sum=("n_nationkey", "sum"))
        .reset_index()
    )
    assert_eq(got, want, sort_by=["n_regionkey"])

    got2 = tables["orders"].groupby("o_orderstatus").agg(["sum", "mean"])
    cols = set(got2.columns)
    assert {"o_totalprice_sum", "o_totalprice_mean"} <= cols


def test_groupby_nth_matches_pandas(spark):
    import pandas as pd

    import dask_spark as ds

    pdf = pd.DataFrame(
        {
            "g": ["a", "a", "a", "b", "b", "c"],
            "t": [3, 1, 2, 5, 4, 9],
            "v": [30.0, 10.0, 20.0, 50.0, 40.0, 90.0],
        }
    )
    for n in (0, 1, -1, 2):
        got = (
            ds.from_pandas(pdf).groupby("g").nth(n, order_by="t").compute()
            .sort_values("g", ignore_index=True)
        )
        want = (
            pdf.sort_values("t").groupby("g").nth(n).reset_index(drop=True)
            .sort_values("g", ignore_index=True)
        )
        assert list(got.g) == list(want.g), f"n={n}"
        assert list(got.v) == list(want.v), f"n={n}"


def test_groupby_ngroup_matches_pandas(spark):
    import pandas as pd

    import dask_spark as ds

    pdf = pd.DataFrame({"g": ["b", "a", "c", "a", "b"], "v": range(5)})
    got = (
        ds.from_pandas(pdf).groupby("g").ngroup().compute()
        .sort_values("v", ignore_index=True)
    )
    want = pdf.groupby("g").ngroup()
    assert list(got.ngroup) == list(want)


def test_groupby_fill_shift_delegates(spark):
    import numpy as np
    import pandas as pd

    import dask_spark as ds

    pdf = pd.DataFrame(
        {
            "g": ["a", "a", "a", "b", "b"],
            "i": [1, 2, 3, 1, 2],
            "v": [1.0, None, None, None, 5.0],
        }
    )
    f = ds.from_pandas(pdf)
    g = f.groupby("g")

    def _eq(got, want):
        return all(
            (w is None and pd.isna(x)) or x == w for x, w in zip(got, want)
        )

    filled = g.ffill("v", "i").compute().sort_values(["g", "i"])
    assert _eq(list(filled.v), [1.0, 1.0, 1.0, None, 5.0])  # no cross-group leak
    bfilled = g.bfill("v", "i").compute().sort_values(["g", "i"])
    assert _eq(list(bfilled.v), [1.0, None, None, 5.0, 5.0])

    shifted = g.shift("v", 1, order_by="i", out="p").compute().sort_values(["g", "i"])
    expect = pdf.sort_values(["g", "i"]).groupby("g").v.shift(1)
    assert [
        (a == b) or (np.isnan(a) and np.isnan(b))
        for a, b in zip(shifted.p.fillna(float("nan")), expect.fillna(float("nan")))
    ]

    prod = (
        ds.from_pandas(pd.DataFrame({"g": ["x", "x", "y"], "i": [1, 2, 1],
                                     "v": [2.0, 3.0, 4.0]}))
        .groupby("g")
        .cumprod("v", "i", out="cp")
        .compute()
        .sort_values(["g", "i"])
    )
    assert list(prod.cp) == [2.0, 6.0, 4.0]


def test_groupby_rolling_delegate(spark):
    import pandas as pd

    import dask_spark as ds

    pdf = pd.DataFrame(
        {
            "g": ["a"] * 4 + ["b"] * 3,
            "i": [1, 2, 3, 4, 1, 2, 3],
            "v": [1.0, 2.0, 3.0, 4.0, 10.0, 20.0, 30.0],
        }
    )
    out = (
        ds.from_pandas(pdf)
        .groupby("g")
        .rolling(2, on="i")
        .mean("v")
        .compute()
        .sort_values(["g", "i"])
    )
    expect = (
        pdf.sort_values(["g", "i"])
        .groupby("g")
        .v.rolling(2, min_periods=1)
        .mean()
        .reset_index(drop=True)
    )
    col = [c for c in out.columns if "roll" in c or c not in ("g", "i", "v")][0]
    assert list(out[col]) == list(expect)


def test_groupby_delegate_surface(spark):
    import pandas as pd

    import dask_spark as ds

    pdf = pd.DataFrame(
        {
            "g": ["a", "a", "a", "b", "b"],
            "x": [1.0, 2.0, 2.0, 3.0, 4.0],
            "y": [2.0, 4.0, 5.0, 6.0, 9.0],
        }
    )
    g = ds.from_pandas(pdf).groupby("g")

    prod = g.prod(["x"]).compute().sort_values("g")
    assert list(prod.x) == [4.0, 12.0]
    med = g.median("x").compute().sort_values("g")
    assert list(med.x_q) == [2.0, 3.0]
    corr = g.corr("x", "y").compute().sort_values("g")
    expect = pdf.groupby("g").apply(
        lambda d: d.x.corr(d.y), include_groups=False
    )
    assert corr["corr"].tolist() == pytest.approx(expect.tolist())
    uq = g.unique("x").compute().sort_values("g")
    assert [list(v) for v in uq.x] == [[1.0, 2.0], [3.0, 4.0]]
    vc = g.value_counts("x").compute()
    assert vc[(vc.g == "a") & (vc.x == 2.0)]["count"].iloc[0] == 2
    got = g.get_group("b").compute()
    assert sorted(got.x) == [3.0, 4.0]
    h = g.head(1, order_by="x").compute().sort_values("g")
    assert list(h.x) == [1.0, 3.0]
    t = g.tail(1, order_by="x").compute().sort_values("g")
    assert list(t.x) == [2.0, 4.0]
    agg2 = g.aggregate({"x": "sum"}).compute().sort_values("g")
    assert list(agg2.x_sum) == [5.0, 7.0]


def test_groupby_and_value_counts_dropna(spark):
    """pandas parity for null keys: groupby(dropna=True) default drops
    null-keyed rows (Spark's groupBy natively KEEPS the null group);
    dropna=False keeps it. Same contract for value_counts, including
    the normalize denominator."""
    import pandas as pd

    import dask_spark as ds

    pdf = pd.DataFrame(
        {"g": ["a", None, "a", "b", None], "x": [1.0, 2.0, 3.0, 4.0, 5.0]}
    )
    frame = ds.from_pandas(pdf)
    got = frame.groupby("g").agg({"x": "sum"}).compute().sort_values("g")
    want = pdf.groupby("g").x.sum()  # pandas drops the null group
    assert got.g.tolist() == ["a", "b"]
    assert got.x_sum.tolist() == want.tolist()
    kept = frame.groupby("g", dropna=False).agg({"x": "sum"}).compute()
    assert len(kept) == 3
    assert kept[kept.g.isna()].x_sum.iloc[0] == 7.0

    vc = frame["g"].value_counts().compute()
    assert vc.g.tolist() == ["a", "b"] and vc["count"].tolist() == [2, 1]
    vc_all = frame["g"].value_counts(dropna=False).compute()
    assert len(vc_all) == 3
    norm = frame["g"].value_counts(normalize=True).compute()
    assert norm.proportion.tolist() == [2 / 3, 1 / 3]


def test_groupby_dropna_shape_preserving(spark):
    """pandas contract: with dropna=True, SHAPE-PRESERVING group ops
    (transform/cumsum/shift/ffill/cumcount/ngroup) keep null-key rows
    and give them null results; group-producing ops drop the rows."""
    import pandas as pd

    import dask_spark as ds

    pdf = pd.DataFrame(
        {
            "k": ["a", None, "a", "b", None],
            "o": [1, 2, 3, 4, 5],
            "v": [1.0, 2.0, 3.0, 4.0, None],
        }
    )
    g = ds.from_pandas(pdf).groupby("k")
    t = g.transform("sum", "v").compute().sort_values("o")
    assert len(t) == 5
    assert t.v_sum.tolist()[0] == 4.0 and pd.isna(t.v_sum.tolist()[1])
    want = pdf.groupby("k").v.transform("sum")
    assert all(
        (a == b) or (pd.isna(a) and pd.isna(b))
        for a, b in zip(t.v_sum.tolist(), want.tolist())
    )
    c = g.cumsum("v", order_by="o").compute().sort_values("o")
    assert len(c) == 5 and pd.isna(c.v_cumsum.tolist()[1])
    s = g.shift("v", order_by="o").compute().sort_values("o")
    assert len(s) == 5 and pd.isna(s.v_shift.tolist()[4])
    f = g.ffill("v", order_by="o").compute().sort_values("o")
    assert len(f) == 5 and pd.isna(f.v.tolist()[4])  # null-key row: NaN
    cc = g.cumcount(order_by="o").compute().sort_values("o")
    assert len(cc) == 5 and pd.isna(cc.cumcount.tolist()[1])
    ng = g.ngroup().compute().sort_values("o")
    assert len(ng) == 5
    want_ng = pdf.groupby("k").ngroup()  # -1 marks dropped in pandas<2.1
    got = ng.ngroup.tolist()
    assert got[0] == got[2] == 0 and got[3] == 1
    assert pd.isna(got[1]) and pd.isna(got[4])
    # dropna=False: pandas numbers the null group LAST
    ng2 = (
        ds.from_pandas(pdf).groupby("k", dropna=False).ngroup()
        .compute().sort_values("o")
    )
    want2 = pdf.groupby("k", dropna=False).ngroup()
    assert ng2.ngroup.tolist() == want2.tolist() == [0, 2, 0, 1, 2]


def test_describe_percentiles(tables, pdf_tables):
    """describe(percentiles=) reports the requested quantile levels
    (reference dask_expr/_describe.py parameter), pandas-exact for the
    linear-interpolation percentile."""
    out = (
        tables["lineitem"][["l_quantity"]]
        .describe(percentiles=[0.05, 0.5, 0.95])
        .compute()
    )
    assert {"q5", "q50", "q95"} <= set(out.columns)
    p = pdf_tables["lineitem"].l_quantity
    row = out.iloc[0]
    assert row["q5"] == pytest.approx(p.quantile(0.05))
    assert row["q95"] == pytest.approx(p.quantile(0.95))
    with pytest.raises(ValueError):
        tables["lineitem"].describe(percentiles=[1.5])


def test_quantile_list(tables, pdf_tables):
    """quantile with a LIST of levels: one sketch pass, pandas-shaped
    result indexed by level."""
    li = tables["lineitem"]
    p = pdf_tables["lineitem"]
    s = li.l_extendedprice.quantile([0.1, 0.5, 0.9])
    assert list(s.index) == [0.1, 0.5, 0.9]
    for lev in (0.1, 0.5, 0.9):
        want = p.l_extendedprice.quantile(lev)
        assert abs(s[lev] - want) / want < 0.02  # GK sketch tolerance
    df = li[["l_quantity", "l_extendedprice"]].quantile([0.25, 0.75])
    assert list(df.index) == [0.25, 0.75]
    assert set(df.columns) == {"l_quantity", "l_extendedprice"}
    assert df.l_quantity[0.25] <= df.l_quantity[0.75]


def test_rank_methods(spark):
    """pandas tie-method parity for Series.rank: min/max/average/dense
    all derive from one value-keyed aggregate; first stays the global
    index."""
    import dask_spark as ds

    pdf = pd.DataFrame({"x": [10.0, 20.0, 10.0, 30.0, 20.0, 10.0]})
    f = ds.from_pandas(pdf)
    for method in ("min", "max", "average", "dense"):
        got = (
            f.x.rank(method=method)._frame.compute()
            .sort_values(["x", "rank"], ignore_index=True)
        )
        want = (
            pd.DataFrame({"x": pdf.x, "rank": pdf.x.rank(method=method)})
            .sort_values(["x", "rank"], ignore_index=True)
        )
        assert got["rank"].astype(float).tolist() == \
            want["rank"].tolist(), method
    with pytest.raises(ValueError):
        f.x.rank(method="bogus")
    # nulls keep a null rank and never shift non-null ranks; pct
    # divides by the non-null count (pandas na_option='keep', pct=True)
    pdf2 = pd.DataFrame({"x": [10.0, None, 20.0, 10.0]})
    f2 = ds.from_pandas(pdf2)
    got = (
        f2.x.rank(method="min", pct=True)._frame.compute()
        .sort_values(["x", "rank"], ignore_index=True, na_position="last")
    )
    want = (
        pd.DataFrame({"x": pdf2.x, "rank": pdf2.x.rank(method="min", pct=True)})
        .sort_values(["x", "rank"], ignore_index=True, na_position="last")
    )
    assert all(
        (a == b) or (pd.isna(a) and pd.isna(b))
        for a, b in zip(got["rank"].tolist(), want["rank"].tolist())
    )
    # dense pct divides by the DISTINCT non-null count (pandas:
    # [10,10,20,30].rank('dense', pct=True) == [1/3,1/3,2/3,1])
    pdf3 = pd.DataFrame({"x": [10.0, 10.0, 20.0, 30.0, None]})
    f3 = ds.from_pandas(pdf3)
    for method in ("dense", "average", "max"):
        got = (
            f3.x.rank(method=method, pct=True)._frame.compute()
            .sort_values(["x", "rank"], ignore_index=True,
                         na_position="last")
        )
        want = (
            pd.DataFrame({"x": pdf3.x,
                          "rank": pdf3.x.rank(method=method, pct=True)})
            .sort_values(["x", "rank"], ignore_index=True,
                         na_position="last")
        )
        assert all(
            (abs(a - b) < 1e-12) or (pd.isna(a) and pd.isna(b))
            for a, b in zip(got["rank"].tolist(), want["rank"].tolist())
        ), method


def test_rank_na_option_top_bottom(spark):
    """na_option='top'/'bottom' rank the nulls as one tie group before
    or after every value (closed-form shifts from broadcast counts);
    pct denominators follow pandas (total n; distinct+1 for dense).
    method='first' with ranked nulls needs a positional order the
    engine does not define — it raises."""
    import dask_spark as ds

    pdf = pd.DataFrame({"x": [10.0, 10.0, 20.0, None, None, 5.0]})
    f = ds.from_pandas(pdf)
    for na in ("top", "bottom"):
        for method in ("min", "max", "average", "dense"):
            for pct in (False, True):
                got = (
                    f.x.rank(method=method, na_option=na, pct=pct)
                    ._frame.compute()
                    .sort_values(["x", "rank"], ignore_index=True,
                                 na_position="last")
                )
                want = (
                    pd.DataFrame({
                        "x": pdf.x,
                        "rank": pdf.x.rank(method=method, na_option=na,
                                           pct=pct),
                    })
                    .sort_values(["x", "rank"], ignore_index=True,
                                 na_position="last")
                )
                assert [
                    round(float(v), 9) for v in got["rank"].tolist()
                ] == [
                    round(float(v), 9) for v in want["rank"].tolist()
                ], (na, method, pct)
    # no nulls: top/bottom are no-ops, identical to keep
    pdf2 = pd.DataFrame({"x": [3.0, 1.0, 2.0]})
    f2 = ds.from_pandas(pdf2)
    got = (
        f2.x.rank(method="min", na_option="top")._frame.compute()
        .sort_values("x", ignore_index=True)
    )
    assert got["rank"].tolist() == [1, 2, 3]
    with pytest.raises(ValueError):
        f.x.rank(method="first", na_option="top")
    with pytest.raises(ValueError):
        f.x.rank(na_option="bogus")


def test_rollup_and_cube_semantics(spark, tables):
    """rollup emits hierarchy subtotals ((a,b),(a),()), cube every
    subset; GROUPING flags distinguish subtotal nulls from real-null
    keys; grand-total row equals the global aggregate."""
    import pyspark.sql.functions as F

    import dask_spark as ds

    pdf_rows = [("a", "x", 1.0), ("a", "y", 2.0), ("b", "x", 4.0),
                (None, "x", 8.0)]
    df = ds.from_pandas(
        __import__("pandas").DataFrame(
            pdf_rows, columns=["g1", "g2", "v"])
    )
    roll = df.rollup(["g1", "g2"], {"v": "sum"}).to_spark().collect()
    cube = df.cube(["g1", "g2"], {"v": "sum"}).to_spark().collect()

    def key(r):
        return (r["g1"], r["g2"], r["g1_grouping"], r["g2_grouping"])

    rmap = {key(r): r["v_sum"] for r in roll}
    # leaf cells, per-g1 subtotals, grand total
    assert rmap[("a", "x", 0, 0)] == 1.0
    assert rmap[("a", None, 0, 1)] == 3.0
    assert rmap[(None, None, 0, 1)] == 8.0   # REAL null g1 subtotal
    assert rmap[(None, None, 1, 1)] == 15.0  # grand total
    # rollup has no (None, 'x') g2-only subtotal; cube does
    assert (None, "x", 1, 0) not in rmap
    cmap = {key(r): r["v_sum"] for r in cube}
    assert cmap[(None, "x", 1, 0)] == 13.0
    assert len(cube) > len(roll)


def test_merge_partials_equals_full_recompute(spark):
    """merge(agg(A), agg(B)) == agg(A ∪ B) for sum/count/min/max —
    overlapping keys combine, disjoint keys pass through, an
    all-null-values group keeps its null sum; schema drift and
    non-mergeable fns raise."""
    import pytest

    from dask_spark.frame import DaskFrame
    from dask_spark.operators.groupby import (aggregate_partials,
                                              merge_partials)

    a = spark.createDataFrame(
        [("x", 1), ("x", 5), ("y", 2), ("n", None)],
        "k string, v int",
    )
    b = spark.createDataFrame(
        [("x", 7), ("z", 3), ("n", None)], "k string, v int"
    )
    spec = {"v": ["sum", "count", "min", "max"]}
    # NB: count fn counts rows via count(1)-style agg on the column?
    sa = aggregate_partials(DaskFrame(a), ["k"], spec)
    sb = aggregate_partials(DaskFrame(b), ["k"], spec)
    merged = {r["k"]: r for r in
              merge_partials(sa, sb, ["k"]).to_spark().collect()}
    full = {r["k"]: r for r in aggregate_partials(
        DaskFrame(a.unionAll(b)), ["k"], spec).to_spark().collect()}
    assert set(merged) == set(full)
    for k in full:
        for c in ("v_sum", "v_count", "v_min", "v_max"):
            assert merged[k][c] == full[k][c], (k, c)

    with pytest.raises(ValueError, match="not mergeable"):
        aggregate_partials(DaskFrame(a), ["k"], {"v": "mean"})
    bad = sb.to_spark().withColumnRenamed("v_sum", "v_total")
    with pytest.raises(ValueError, match="schemas differ"):
        merge_partials(sa, DaskFrame(bad), ["k"])


def test_skew_safe_nunique_exact(spark):
    """Salted two-phase distinct == plain countDistinct for every
    bucket count (incl. buckets=1 degenerating to the plain form);
    null keys/values drop; invalid buckets raise."""
    import pytest

    import pyspark.sql.functions as F

    from dask_spark.operators.groupby import skew_safe_nunique

    sdf = spark.range(20_000).select(
        (F.col("id") % 3).cast("string").alias("k"),
        (F.col("id") % 1777).alias("v"),
    ).unionAll(spark.createDataFrame(
        [(None, 1), ("0", None)], "k string, v bigint"))
    want = {
        r["k"]: r["n"]
        for r in sdf.filter("k is not null and v is not null")
        .groupBy("k").agg(F.countDistinct("v").alias("n")).collect()
    }
    for b in (1, 7, 32):
        got = {r["key"]: r["nunique"] for r in skew_safe_nunique(
            sdf, "k", "v", buckets=b).to_spark().collect()}
        assert got == want, b
    with pytest.raises(ValueError, match="buckets"):
        skew_safe_nunique(sdf, "k", "v", buckets=0)


def test_describe_approx_mode(spark, tables):
    """describe(exact=False) rides the GK sketch (percentile_approx,
    bounded state — dask's own describe semantics): same schema, same
    count/mean/min/max, quantiles within sketch tolerance of exact."""
    from dask_spark.operators.reductions import describe

    li = tables["lineitem"]
    ex = {r["column"]: r for r in describe(li).to_spark().collect()}
    ap = {r["column"]: r
          for r in describe(li, exact=False).to_spark().collect()}
    assert set(ex) == set(ap)
    pdf = li.compute()
    for c in ex:
        assert ex[c]["count"] == ap[c]["count"]
        assert ex[c]["min"] == ap[c]["min"]
        assert ex[c]["max"] == ap[c]["max"]
        s = pdf[c].dropna()
        for p, lab in ((0.25, "q25"), (0.5, "q50"), (0.75, "q75")):
            a = ap[c][lab]
            # GK returns an ORDER STATISTIC with rank error <= eps*n
            # (not an interpolated value) — assert it lies within the
            # exact quantile envelope at p +/- 1% rank slack
            lo = s.quantile(max(p - 0.01, 0.0), interpolation="lower")
            hi = s.quantile(min(p + 0.01, 1.0), interpolation="higher")
            assert lo - 1e-9 <= a <= hi + 1e-9, (c, lab, a, lo, hi)


# ---- spearman_corr exact path: both columns' rank tables come from
# ONE unpivoted (axis, value) count table; ranks must equal the
# per-column average ranks


def test_spearman_fused_matches_scipy(spark):
    from dask_spark.operators.reductions import spearman_corr

    rng = np.random.RandomState(7)
    x = np.round(rng.normal(size=400), 1)   # heavy ties
    y = np.round(x * 0.5 + rng.normal(size=400), 1)
    pdf = pd.DataFrame({"x": x, "y": y})
    sdf = spark.createDataFrame(pdf)
    got = spearman_corr(sdf, "x", "y").compute()
    # scipy-free expected: pandas rank(average) + pearson
    rx = pdf["x"].rank(method="average")
    ry = pdf["y"].rank(method="average")
    exp = round(float(np.corrcoef(rx, ry)[0, 1]), 6)
    assert got["n"].iloc[0] == 400
    assert got["rho"].iloc[0] == pytest.approx(exp, abs=2e-6)


def test_spearman_fused_constant_column(spark):
    from dask_spark.operators.reductions import spearman_corr

    pdf = pd.DataFrame({"x": [1.0] * 10, "y": list(range(10))})
    got = spearman_corr(spark.createDataFrame(pdf), "x", "y").compute()
    assert got["rho"].iloc[0] is None or np.isnan(got["rho"].iloc[0])


def _smj_in_last_execution(spark) -> int:
    """SortMergeJoin nodes in the final (post-AQE) physical plan of the
    newest SQL execution, read from the SQL status store."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    sql = spark._jsparkSession.sharedState().statusStore()
    newest = sql.executionsList(sql.executionsCount() - 1, 1).head()
    nodes = sql.planGraph(newest.executionId()).allNodes()
    return sum(
        nodes.apply(i).name() == "SortMergeJoin" for i in range(nodes.size())
    )


@pytest.mark.parametrize("threshold,smj", [("2k", 1), ("-1", 2)])
def test_spearman_broadcast_gate_counts_distinct_values(
        spark, threshold, smj):
    """The rank re-attach join is hinted broadcast when the side's
    DISTINCT values x 24 B fit spark.sql.autoBroadcastJoinThreshold:
    at 2 KiB the 5-value column (120 B) is hinted while the 400-value
    one (9.6 KB) is not — gating on its 400 ROWS would hint neither —
    and a threshold <= 0 hints no side. Both match the pandas ranks."""
    from dask_spark.operators.reductions import spearman_corr

    rng = np.random.RandomState(3)
    n = 400
    pdf = pd.DataFrame({
        "x": (np.arange(n) % 5).astype(float),
        "y": rng.permutation(n).astype(float),
    })
    key = "spark.sql.autoBroadcastJoinThreshold"
    saved = spark.conf.get(key)
    try:
        spark.conf.set(key, threshold)
        got = spearman_corr(spark.createDataFrame(pdf), "x", "y")
        assert _smj_in_last_execution(spark) == smj
    finally:
        spark.conf.set(key, saved)
    got = got.compute()
    exp = round(float(np.corrcoef(pdf.x.rank(), pdf.y.rank())[0, 1]), 6)
    assert got["n"].iloc[0] == n
    assert got["rho"].iloc[0] == pytest.approx(exp, abs=2e-6)
