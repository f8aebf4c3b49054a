"""Property-ish edge cases (SURVEY §5): nulls, empty inputs/partitions,
duplicate keys, ties, single-row frames — the places partitioned
engines classically diverge from pandas."""

from __future__ import annotations

import pandas as pd
import pytest

from dask_spark.array import DArray
from dask_spark.operators.behavior import peak_concurrency
from dask_spark.operators.monitor import gini_coefficient, ks_drift
from dask_spark.operators.reductions import roc_auc, spearman_corr
from tests.conftest import assert_eq


@pytest.fixture(scope="module")
def nullish(spark):
    import dask_spark as ds

    pdf = pd.DataFrame(
        {
            "k": ["a", "a", None, "b", None, "c"],
            "v": [1.0, None, 3.0, None, 5.0, None],
            "t": [1, 2, 3, 4, 5, 6],
        }
    )
    return pdf, ds.from_pandas(pdf)


def test_groupby_sum_all_null_group(nullish):
    pdf, f = nullish
    got = f.groupby("k").agg({"v": "sum"}).compute()
    # group "b" is all-null → 0.0 like pandas' sum min_count=0 (was
    # pinned to Spark's NULL before r14; the fuzz_parity sweep decided
    # the divergence in pandas' favor — _agg_final's lazy identity)
    row = got[got.k == "b"]
    assert (row.v_sum == 0.0).all()
    # null keys are dropped by default (pandas dropna=True);
    # dropna=False keeps the null group
    assert len(got) == 3
    kept = f.groupby("k", dropna=False).agg({"v": "sum"}).compute()
    assert len(kept) == 4


def test_empty_frame_ops(spark):
    import dask_spark as ds

    f = ds.from_pandas(pd.DataFrame({"a": [1.0], "b": ["x"]}))
    empty = f[f.a > 100]
    assert len(empty.compute()) == 0
    assert empty.groupby("b").agg({"a": "sum"}).compute().empty
    assert empty.sort_values("a").compute().empty
    assert len(empty.merge(f, on="b").compute()) == 0
    assert empty.drop_duplicates().compute().empty
    # reductions on empty: count → 0; sum → 0 like pandas min_count=0
    # (was pinned to Spark's NULL before the r14 fuzz-driven contract)
    assert empty.a.count() == 0
    assert empty.a.sum() == 0
    assert empty.a.mean() is None  # pandas: NaN — na-equivalent


def test_join_duplicate_keys_cardinality(spark):
    import dask_spark as ds

    a = ds.from_pandas(pd.DataFrame({"k": [1, 1, 2], "x": [1, 2, 3]}))
    b = ds.from_pandas(pd.DataFrame({"k": [1, 1, 2, 3], "y": [10, 20, 30, 40]}))
    out = a.merge(b, on="k").compute()
    assert len(out) == 2 * 2 + 1  # 1×1 pairs multiply


def test_join_null_keys_never_match(spark):
    import dask_spark as ds

    a = ds.from_pandas(pd.DataFrame({"k": [None, "x"], "v": [1, 2]}))
    b = ds.from_pandas(pd.DataFrame({"k": [None, "x"], "w": [3, 4]}))
    inner = a.merge(b, on="k").compute()
    assert len(inner) == 1  # SQL semantics: null ≠ null (pandas agrees on merge)
    outer = a.merge(b, on="k", how="outer").compute()
    assert len(outer) == 3


def test_topk_ties_deterministic(spark):
    import dask_spark as ds

    pdf = pd.DataFrame({"id": [1, 2, 3, 4], "v": [5.0, 5.0, 5.0, 1.0]})
    f = ds.from_pandas(pdf)
    got = f.to_spark().orderBy("v", ascending=False).limit(2).toPandas()
    assert (got.v == 5.0).all()


def test_merge_asof_no_match_before(spark):
    import dask_spark as ds

    left = ds.from_pandas(pd.DataFrame({"t": [1, 10], "lv": [1, 2]}))
    right = ds.from_pandas(pd.DataFrame({"t": [5], "rv": [9.0]}))
    out = left.merge_asof(right, on="t").compute().sort_values("t")
    assert out.rv.isna().iloc[0]  # t=1 has nothing before it
    assert out.rv.iloc[1] == 9.0


def test_rolling_single_row_groups(spark):
    import dask_spark as ds

    pdf = pd.DataFrame({"g": ["a", "b"], "t": [1, 1], "v": [2.0, 3.0]})
    got = ds.from_pandas(pdf).rolling(3, on="t", by="g").mean("v").compute()
    assert sorted(got.v_roll_mean) == [2.0, 3.0]


def test_dedup_short_and_empty_docs(spark):
    import dask_spark as ds
    from dask_spark.operators.dedup import minhash_signatures, simhash

    pdf = pd.DataFrame(
        {"doc_id": ["a", "b", "c"], "text": ["", "one", "one two three four five"]}
    )
    f = ds.from_pandas(pdf)
    sigs = minhash_signatures(f._sdf, "text", "doc_id", 8, 3).toPandas()
    # docs shorter than shingle_k words yield no signature, never crash
    assert set(sigs.doc_id) == {"c"}
    sh = simhash(f).compute()
    assert len(sh) == 3  # simhash defined for every doc (empty → hash of [])


def test_quantile_extremes(tables, pdf_tables):
    li = tables["lineitem"]
    p = pdf_tables["lineitem"]
    assert li.l_quantity.quantile(0.0) == p.l_quantity.min()
    assert li.l_quantity.quantile(1.0) == p.l_quantity.max()


def test_repartition_counts(tables):
    o = tables["orders"]
    assert o.repartition(4).npartitions == 4
    assert o.repartition(npartitions=2).npartitions == 2
    sh = o.shuffle(on="o_custkey", npartitions=8)
    assert sh.npartitions == 8


def test_concat_mismatched_columns(spark):
    import dask_spark as ds

    a = ds.from_pandas(pd.DataFrame({"x": [1], "y": [2]}))
    b = ds.from_pandas(pd.DataFrame({"x": [3], "z": [4]}))
    out = ds.concat([a, b]).compute()
    assert set(out.columns) == {"x", "y", "z"}
    assert len(out) == 2


def test_series_nlargest(tables, pdf_tables):
    li = tables["lineitem"]
    p = pdf_tables["lineitem"]
    got = li.l_extendedprice.nlargest(5)
    assert got.compute().l_extendedprice.tolist() == sorted(
        p.l_extendedprice, reverse=True
    )[:5]
    got2 = li.l_extendedprice.nsmallest(5)
    assert got2.compute().l_extendedprice.tolist() == sorted(p.l_extendedprice)[:5]


def test_stratified_sample(tables, pdf_tables):
    from dask_spark.operators.sort import stratified_sample

    d = tables["documents"]
    out = stratified_sample(d, "source", {"web": 0.5, "books": 1.0}).compute()
    p = pdf_tables["documents"]
    sources = set(p.source)
    if {"web", "books"} <= sources:
        n_books = (p.source == "books").sum()
        assert (out.source == "books").sum() == n_books  # fraction 1.0 keeps all
        n_web_total = (p.source == "web").sum()
        n_web = (out.source == "web").sum()
        assert 0.3 * n_web_total < n_web < 0.7 * n_web_total
        assert set(out.source) <= {"web", "books"}
    else:  # schema uses other source labels — just check quota drop works
        some = sorted(sources)[0]
        out2 = stratified_sample(d, "source", {some: 1.0}).compute()
        assert set(out2.source) == {some}


def test_repartition_by_size(tables):
    li = tables["lineitem"]
    out = li.repartition(partition_size="64kb")
    # estimated size of sf0.001 lineitem ≈ a few hundred KB → several partitions
    assert out.npartitions >= 2
    big = li.repartition(partition_size="1GB")
    assert big.npartitions == 1


def test_cumprod_zeros_and_negatives(spark):
    """ADVICE r1: exp(sum(log)) silently dropped zeros/negatives; the
    F.product window must be sign/zero-exact."""
    import pandas as pd
    import pytest

    import dask_spark as ds

    pdf = pd.DataFrame(
        {
            "g": [1] * 5 + [2] * 3,
            "t": list(range(5)) + list(range(3)),
            "v": [2.0, -3.0, 4.0, 0.0, 5.0, -1.0, -2.0, -3.0],
        }
    )
    f = ds.from_pandas(pdf)
    got = f.cumprod("v", order_by="t", by="g").compute().sort_values(["g", "t"])
    want = pdf.sort_values(["g", "t"]).groupby("g").v.cumprod()
    assert got.v_cumprod.tolist() == pytest.approx(want.tolist())


def test_salted_join_rejects_right_outer(tables):
    import pytest

    from dask_spark.operators.joins import salted_join

    with pytest.raises(ValueError, match="salted_join"):
        salted_join(tables["orders"], tables["customer"], on="o_custkey", how="outer")


def test_str_count_null_is_null(spark):
    import pandas as pd

    import dask_spark as ds

    pdf = pd.DataFrame({"s": ["aXbXc", None, "nope"]})
    out = ds.from_pandas(pdf).assign(n=lambda d: d.s.str.count("X")).compute()
    vals = out.n.tolist()
    assert vals[0] == 2 and pd.isna(vals[1]) and vals[2] == 0


def test_darray_cross_lineage_binop_raises(spark):
    import pandas as pd
    import pytest

    import dask_spark as ds
    from dask_spark.array import DArray

    pdf = pd.DataFrame({"id": [1, 2], "embedding": [[1.0, 2.0], [3.0, 4.0]]})
    f = ds.from_pandas(pdf)
    a = DArray.from_frame(f, "embedding", "id")
    b = a.map(lambda x: x + 1)  # new plan, same column name
    with pytest.raises(ValueError, match="lineage"):
        _ = a + b
    # same-plan self op stays valid: a + a == 2a
    got = (a + a).to_frame().compute()
    assert sorted(got[a._col].iloc[0]) in ([2.0, 4.0], [6.0, 8.0])


def test_categorize_get_dummies_cardinality_guard(spark):
    """High-cardinality columns must fail fast, not OOM the driver."""
    import pyspark.sql.functions as F
    import pytest

    from dask_spark.frame import DaskFrame
    from dask_spark.operators.reshape import categorize, get_dummies

    wide = DaskFrame(
        spark.range(5000).select(
            F.concat(F.lit("u"), F.col("id")).alias("uid"),
            (F.col("id") % 3).alias("v"),
        )
    )
    with pytest.raises(ValueError, match="max_categories"):
        get_dummies(wide, "uid", max_categories=100)
    with pytest.raises(ValueError, match="max_categories"):
        categorize(wide, "uid", max_categories=100)
    # under the cap still works
    ok = get_dummies(wide, "v", max_categories=100).compute()
    assert {"v_0", "v_1", "v_2"} <= set(ok.columns)


def test_read_hdf_avro_plumbing(tmp_path):
    """Option-mapped IO (reference: dask io/hdf.py:309, bag/avro.py:73):
    real read when the lib exists, a clear ImportError otherwise."""
    import pandas as pd
    import pytest

    import dask_spark as ds

    pdf = pd.DataFrame({"a": [1, 2, 3], "b": ["x", "y", "z"]})
    h5 = str(tmp_path / "t.h5")
    try:
        pdf.to_hdf(h5, key="t")
        has_tables = True
    except ImportError:
        has_tables = False
    if has_tables:
        got = ds.read_hdf(h5, key="t").compute()
        assert sorted(got.a.tolist()) == [1, 2, 3]
    else:
        # pandas checks file existence before importing PyTables
        (tmp_path / "t.h5").write_bytes(b"\x89HDF")
        with pytest.raises(ImportError, match="PyTables"):
            ds.read_hdf(h5, key="t")

    with pytest.raises(ImportError, match="spark-avro"):
        ds.read_avro(str(tmp_path / "x.avro"))


def _orders_ks(t):
    import pyspark.sql.functions as F

    o = t["orders"]._sdf
    return ks_drift(o.filter(F.col("o_orderdate") < "1996-01-01"),
                    o.filter(F.col("o_orderdate") >= "1996-01-01"),
                    "o_totalprice")


def _keyless_asof(t):
    e = t["events"][["event_id", "value"]]
    right = e.rename({"value": "rv"})
    return e.merge_asof(right[right.event_id % 3 == 0], on="event_id")


# EAGER ops collect their answer before returning; LAZY ops return a
# frame whose plan still re-reads the range-bucketed input.
_EAGER = {
    "autocorr": lambda t: t["events"].value.autocorr(
        lag=1, order_by="event_id"),
    "spearman_exact": lambda t: spearman_corr(
        t["lineitem"], "l_quantity", "l_extendedprice"),
    "ks_drift_exact": _orders_ks,
    "roc_auc": lambda t: roc_auc(
        t["orders"], "o_totalprice", "o_orderpriority = '1-URGENT'"),
    "gini": lambda t: gini_coefficient(
        t["orders"], "o_totalprice", "o_custkey"),
    "peak_concurrency": lambda t: peak_concurrency(
        t["events"], window_seconds=1800),
}
_LAZY = {
    "cumsum": lambda t: t["events"].cumsum("value", order_by="event_id"),
    "ffill": lambda t: t["events"].ffill("value", order_by="event_id"),
    "rolling_rows": lambda t: t["events"].rolling(
        3, on="event_id").sum("value"),
    "merge_asof": _keyless_asof,
    "arr_slice": lambda t: DArray.from_frame(
        t["embeddings"], "embedding", "vec_id")[5:40:3],
    "rank": lambda t: t["events"].value.rank(),
}


@pytest.mark.parametrize(
    "name", sorted(_EAGER) + sorted(_LAZY)
)
def test_keyless_ops_cache_hygiene(tables, spark, name):
    """The caching rule (operators/sort.py ``_PINNED``): an eager
    keyless op persists only what it unpersists before returning, so
    the pin FIFO and Spark's cache manager are left as found; a lazy
    keyless op never pins its range-bucketed frame, so it adds nothing
    to the FIFO (and, caching nothing else, nothing to the cache
    manager either)."""
    from dask_spark.operators.sort import _PINNED

    cm = spark._jsparkSession.sharedState().cacheManager()
    # compared by identity: an added pin shows, and so does the
    # eviction an added pin causes when the FIFO is at capacity
    pins_before = [id(p) for p in _PINNED]
    cached_before = cm.numCachedEntries()
    assert {**_EAGER, **_LAZY}[name](tables) is not None
    assert [id(p) for p in _PINNED] == pins_before
    assert cm.numCachedEntries() == cached_before


def test_code_review_round5_edges(spark):
    """Regression pack for the round-5 review findings."""
    import numpy as np
    import pandas as pd
    import pytest

    import dask_spark as ds
    from dask_spark.array import DArray
    from dask_spark.bag import Bag, from_sequence
    from dask_spark.operators.mixing import temperature_mix
    from dask_spark.operators.similarity import bm25_topk
    from dask_spark.plans.profiler import profile

    # profiler: map-typed column must not break the checksum agg
    mf = ds.from_pandas(pd.DataFrame({"doc_id": [1], "text": ["a b"]}))
    from dask_spark.functions.text import pii_counts
    import pyspark.sql.functions as F
    mapped = ds.DaskFrame(mf.to_spark().withColumn("c", pii_counts(F.col("text"))))
    assert profile(mapped)["wall_sec"] >= 0

    # temperature_mix: null sources excluded, empty frame returned as-is
    pdf = pd.DataFrame({"source": ["a", "a", None], "doc_id": [1, 2, 3]})
    out = temperature_mix(ds.from_pandas(pdf), scale=10.0).compute()
    assert None not in set(out.source) and len(out) == 2
    empty = temperature_mix(
        ds.from_pandas(pdf[pdf.source == "zzz"]), scale=1.0
    ).compute()
    assert len(empty) == 0

    # percentile axis guard
    arr = DArray(ds.from_pandas(
        pd.DataFrame({"v": [[1.0, 2.0], [3.0, 4.0]]})).to_spark(), "v")
    with pytest.raises(ValueError):
        arr.percentile(0.5, axis=1)

    # bag.zip with differently-named item columns
    b1 = from_sequence([1, 2], npartitions=1)
    b2_sdf = from_sequence([10, 20], npartitions=1)._sdf.withColumnRenamed(
        "item", "thing")
    pairs = sorted((r["left"], r["right"])
                   for r in b1.zip(Bag(b2_sdf, "thing")).compute())
    assert pairs == [(1, 10), (2, 20)]

    # simhash bits must be band-coverable
    from dask_spark.operators.dedup import simhash
    with pytest.raises(ValueError):
        simhash(mf, bits=58, word_hash="md5")

    # bm25 empty terms
    with pytest.raises(ValueError):
        bm25_topk(mf, [])

    # roll on an empty row stays empty; nanmean of all-NaN row is NaN
    earr = DArray(ds.from_pandas(
        pd.DataFrame({"v": [[], [1.0, 2.0]]})).to_spark(), "v")
    rolled = earr.roll(1).to_frame().compute()["v"].tolist()
    assert any(list(x) == [] for x in rolled)
    nan_arr = DArray(ds.from_pandas(
        pd.DataFrame({"v": [[float("nan")], [1.0, 3.0]]})).to_spark(), "v")
    vals = sorted(nan_arr.nanmean().compute()["nanmean"].tolist(),
                  key=lambda x: (not np.isnan(x), x))
    assert np.isnan(vals[0]) and vals[1] == 2.0
