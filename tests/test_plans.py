"""Plan-shape guardrails — the 100 TB checks. Pushdown reaches the
parquet scan, projection prunes the read schema, dim joins broadcast,
hot paths stay in whole-stage codegen, shuffles are not duplicated."""

from __future__ import annotations

import re

import pyspark.sql.functions as F

from dask_spark.plans import (
    codegen_stages,
    has_pushed_filters,
    read_schema_columns,
    shuffle_count,
    uses_broadcast_join,
)


def test_filter_pushdown_reaches_scan(tables):
    li = tables["lineitem"]
    q = li[li.l_shipdate <= "1998-09-02"][["l_orderkey"]]
    assert has_pushed_filters(q)


def test_projection_prunes_read_schema(tables):
    li = tables["lineitem"]
    q = li[["l_orderkey", "l_quantity"]]
    cols = read_schema_columns(q)
    assert set(cols) == {"l_orderkey", "l_quantity"}


def test_agg_prunes_unused_columns(tables):
    li = tables["lineitem"]
    q = li.groupby("l_returnflag").agg({"l_quantity": "sum"})
    cols = read_schema_columns(q)
    assert set(cols) == {"l_returnflag", "l_quantity"}


def test_dim_join_is_broadcast(tables):
    c = tables["customer"]
    n = tables["nation"]
    j = c.merge(n, left_on="c_nationkey", right_on="n_nationkey")
    assert uses_broadcast_join(j)  # nation is tiny → auto-broadcast


def test_explicit_broadcast_hint(tables):
    o = tables["orders"]
    c = tables["customer"]
    j = o.merge(c, left_on="o_custkey", right_on="c_custkey", broadcast=True)
    assert uses_broadcast_join(j)


def test_groupby_single_shuffle(tables):
    li = tables["lineitem"]
    q = li.groupby(["l_returnflag", "l_linestatus"]).agg({"l_quantity": "sum"})
    assert shuffle_count(q) == 1  # partial agg map-side, one exchange


def test_groupby_is_codegen(tables):
    li = tables["lineitem"]
    q = li.groupby("l_returnflag").agg({"l_quantity": "sum", "l_discount": "mean"})
    assert codegen_stages(q) >= 2  # scan+partial, final


def test_topk_no_global_sort_shuffle(tables):
    """nlargest must plan TakeOrderedAndProject, not a full sort."""
    from dask_spark.plans import plan_text

    q = tables["orders"].nlargest(10, "o_totalprice")
    assert "TakeOrderedAndProject" in plan_text(q)


def test_merge_asof_single_shuffle(spark):
    """union+window asof join: one exchange on the by-key, not a join
    explosion."""
    import pandas as pd

    import dask_spark as ds

    left = ds.from_pandas(pd.DataFrame({"t": [1, 2], "g": ["a", "b"], "lv": [1, 2]}))
    right = ds.from_pandas(pd.DataFrame({"t": [1, 2], "g": ["a", "b"], "rv": [1.0, 2.0]}))
    q = left.merge_asof(right, on="t", by="g")
    assert shuffle_count(q) <= 2  # union exchanges collapse under AQE


def test_minhash_one_shuffle_for_window_and_agg(corpus_frame):
    """The (doc,pos) window and the groupBy(doc) agg share the doc key
    → Catalyst plans a single exchange for both."""
    from dask_spark.operators.dedup import minhash_signatures

    sig = minhash_signatures(corpus_frame._sdf, "text", "doc_id", num_hashes=8)
    from dask_spark.frame import DaskFrame

    assert shuffle_count(DaskFrame(sig)) == 1


def test_ann_bruteforce_no_shuffle(tables):
    """Brute-force ANN is map-only + TakeOrdered: zero exchanges."""
    from dask_spark.operators.similarity import brute_force_topk

    emb = tables["embeddings"]
    dim = len(emb.head(1).embedding.iloc[0])
    q = brute_force_topk(emb, [0.1] * dim, k=10)
    assert shuffle_count(q) == 0


import pytest


@pytest.fixture(scope="module")
def corpus_frame(spark):
    import pandas as pd

    import dask_spark as ds

    return ds.from_pandas(
        pd.DataFrame({"doc_id": ["a", "b"], "text": ["x y z w v", "p q r s t"]})
    )


def test_bucketed_join_no_shuffle(spark, tables, tmp_path_factory):
    """Both sides bucketed on the join key → SortMergeJoin with ZERO
    Exchange operators (the 100 TB co-location strategy)."""
    import dask_spark as ds
    from dask_spark.sources import read_table, to_table_bucketed

    o = tables["orders"][["o_orderkey", "o_totalprice"]]
    li = tables["lineitem"][["l_orderkey", "l_quantity"]].rename(
        columns={"l_orderkey": "o_orderkey"}
    )
    to_table_bucketed(o, "b_orders", by="o_orderkey", buckets=8,
                      sort_by="o_orderkey")
    to_table_bucketed(li, "b_lineitem", by="o_orderkey", buckets=8,
                      sort_by="o_orderkey")
    from dask_spark.frame import DaskFrame

    # force sort-merge (broadcast would win at this tiny scale and hide
    # the property under test: bucketed SMJ plans zero exchanges)
    j = DaskFrame(read_table("b_orders").to_spark().hint("merge")).merge(
        read_table("b_lineitem"), on="o_orderkey"
    )
    assert shuffle_count(j) == 0
    assert "SortMergeJoin" in __import__("dask_spark.plans", fromlist=["plan_text"]).plan_text(j, "simple")
    # and it still computes correctly
    n = len(j.compute())
    want = len(o.compute().merge(li.compute(), on="o_orderkey"))
    assert n == want


def test_hive_partition_pruning(spark, tables, tmp_path_factory):
    """Filtering on a hive partition column must prune at the scan
    (PartitionFilters populated, not a row-level filter)."""
    import dask_spark as ds
    from dask_spark.plans import partition_filters

    path = str(tmp_path_factory.mktemp("hive") / "orders_by_prio.parquet")
    tables["orders"].to_parquet(path, partition_on=["o_orderpriority"])
    f = ds.read_parquet(path)
    q = f[f.o_orderpriority == "1-URGENT"][["o_orderkey"]]
    pf = partition_filters(q)
    assert "o_orderpriority" in pf
    n = len(q.compute())
    want = len(tables["orders"].compute().query("o_orderpriority == '1-URGENT'"))
    assert n == want


@pytest.mark.parametrize("nparts", [8, 300])
def test_global_index_is_multi_partition(spark, nparts):
    """autocorr/global-index path must never collapse to one partition
    (the round-1 weak item): rows spread over >1 partition AND the
    index is exactly the global order. 300 buckets exceed
    sort._TREE_MAX_CUTS, so the second case runs with_bucket's
    chained-projection binary search, which no caller caches."""
    import pyspark.sql.functions as F

    from dask_spark.operators.sort import _TREE_MAX_CUTS, with_global_index

    assert nparts == 8 or nparts - 1 > _TREE_MAX_CUTS  # 299 cuts
    sdf = spark.range(10_000).select(
        (F.col("id") * 37 % 10_000).alias("k"), F.col("id").alias("v")
    )
    idx = with_global_index(sdf, "k", "__i", num_partitions=nparts)
    per_part = (
        idx.groupBy(F.spark_partition_id().alias("p")).count().collect()
    )
    assert len([r for r in per_part if r["count"] > 0]) > 1
    rows = idx.orderBy("__i").select("k", "__i").collect()
    assert [r["__i"] for r in rows] == list(range(10_000))
    assert [r["k"] for r in rows] == sorted(r["k"] for r in rows)


def test_aqe_splits_skewed_join(spark):
    """SURVEY §7.4 promise: a monster key must be split by AQE's skew
    join (skew=true in the executed plan) — with thresholds scaled to
    test data — and salted_join must agree with the plain join."""
    import pyspark.sql.functions as F

    from dask_spark.frame import DaskFrame
    from dask_spark.operators.joins import salted_join

    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.adaptive.enabled",
            "spark.sql.adaptive.skewJoin.enabled",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.adaptive.coalescePartitions.enabled",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "1m"
        )
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "256k")
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")

        # 60k rows on one monster key + a uniform tail; the ~190B pad
        # must be NON-constant (a literal would be constant-folded past
        # the shuffle and compress to nothing)
        left = spark.range(80_000).select(
            F.when(F.col("id") < 60_000, F.lit(0))
            .otherwise(F.col("id")).alias("k"),
            (F.col("id") % 97).alias("v"),
            F.repeat(F.sha2(F.col("id").cast("string").cast("binary"), 256), 3)
            .alias("pad"),
        )
        right = spark.range(500).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("w")
        )
        j = left.join(right, "k")
        rows = j.collect()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, f"AQE did not split the skewed key:\n{plan[:2000]}"
        assert len(rows) == 60_000 + len([r for r in rows if r["k"] != 0])

        got = (
            salted_join(DaskFrame(left), DaskFrame(right), on="k", salt=8)
            .to_spark().groupBy().agg(
                F.count(F.lit(1)).alias("n"), F.sum("v").alias("sv"),
                F.sum("w").alias("sw"),
            ).first()
        )
        want = j.groupBy().agg(
            F.count(F.lit(1)).alias("n"), F.sum("v").alias("sv"),
            F.sum("w").alias("sw"),
        ).first()
        assert (got["n"], got["sv"], got["sw"]) == (want["n"], want["sv"], want["sw"])
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_kmeans_centroids_partition_invariant(spark, tables):
    """IVF centroid sampling must not depend on input partitioning
    (round-2 weak item): same centroids from a 1-partition and a
    13-partition layout of the same data."""
    from dask_spark.frame import DaskFrame
    from dask_spark.operators.similarity import kmeans_centroids

    emb = tables["embeddings"].to_spark().select("vec_id", "embedding")
    a = DaskFrame(emb.coalesce(1))
    b = DaskFrame(emb.repartition(13, "vec_id"))
    ca = kmeans_centroids(a, n_clusters=8, iters=2)
    cb = kmeans_centroids(b, n_clusters=8, iters=2)
    assert ca == cb


def test_contamination_corpus_single_gram_shuffle(spark, tables):
    """The corpus side of contamination must shuffle COMPACT documents
    (one exchange below the Generate), probe the benchmark via
    broadcast, and never shuffle exploded word rows."""
    from dask_spark.operators.dedup import contamination

    d = tables["documents"]
    out = contamination(d, d, ngram=3, threshold=0.5)
    plan = out.to_spark()._jdf.queryExecution().sparkPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    # every Exchange sits below a Generate only via the doc repartition:
    # no hashpartitioning on the word/pos columns anywhere
    assert "hashpartitioning(pos" not in plan
    assert "hashpartitioning(w#" not in plan


def test_tsqr_q_is_map_only(spark, tables):
    """tsqr's Q output must be a map-only scan of the pinned ranged
    plan (no exchange added by the back-multiply pass)."""
    from dask_spark.array import DArray

    e = tables["embeddings"]
    Q, R = DArray.from_frame(e, "embedding", "vec_id").tsqr()
    plan = Q._sdf._jdf.queryExecution().sparkPlan().toString()
    assert "Exchange" not in plan, plan[:1500]


def test_q19_pushdown_envelope(spark, sf_dir):
    """Q19-shape disjunctive predicates: the derivable quantity
    envelope must reach the lineitem parquet scan, the brand/size
    disjunction the part scan."""
    from dask_spark.queries import REGISTRY

    fn, _ = REGISTRY["join_q19_disjunctive"]
    df = fn(spark, sf_dir)
    plan = df._jdf.queryExecution().sparkPlan().toString()
    assert "PushedFilters" in plan
    assert plan.count("Or(") >= 2, "disjuncts not pushed to the scans"


def _exchange_inputs(sdf):
    """(arguments, input-cols) per Exchange node from formatted explain."""
    import io
    import re
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        sdf.explain("formatted")
    txt = buf.getvalue()
    out = []
    blocks = re.split(r"\n\n", txt)
    for blk in blocks:
        m = re.match(r"\(\d+\) (Broadcast)?Exchange", blk.strip())
        if not m:
            continue
        inp = re.search(r"Input \[\d+\]: \[([^\]]*)\]", blk)
        arg = re.search(r"Arguments: (.*)", blk)
        out.append((arg.group(1) if arg else "",
                    inp.group(1) if inp else ""))
    return out


def test_lsh_band_join_exchange_is_ids_only(tables):
    """The banded-LSH candidate shuffles (embedding_dedup_pairs and
    knn_join) must carry (band, sig, id) only — the vector column must
    never ride the bands× exchange (the one 100 TB plan defect from
    round 3)."""
    from dask_spark.operators.dedup import embedding_dedup_pairs
    from dask_spark.operators.similarity import knn_join

    emb = tables["embeddings"]
    for q in (
        embedding_dedup_pairs(emb, threshold=0.8),
        knn_join(emb, emb, k=3, exclude_self=True),
    ):
        all_ex = _exchange_inputs(q.to_spark())

        def hash_keys(arg: str) -> str:
            m = re.search(r"hashpartitioning\((.*?)\)", arg)
            return m.group(1) if m else ""

        band_ex = [(arg, inp) for arg, inp in all_ex if "band" in inp]
        assert band_ex, "band-key exchange not found in plan"
        # No exchange CARRYING the band column, and no exchange HASHED
        # BY both pair ids (the slim-pair dedup shuffle), may carry a
        # vector column under any alias. Exchanges hashed by a single
        # pair id are the post-dedup vector fetch joins — those
        # legitimately carry one vector each. (At tiny SF the band join
        # may broadcast instead of hash — Input-based band detection
        # covers both physical strategies.)
        vec_pat = re.compile(r"embedding|_vec|__va|__vb|__lv|__rv")
        for arg, inp in all_ex:
            k = hash_keys(arg)
            if ("band" in inp) or ("id_a" in k and "id_b" in k):
                assert not vec_pat.search(inp), (arg, inp)
        # TYPE-based guard on top of the name regex: NO array-typed
        # column may ride a band-carrying or pair-id-hashed exchange,
        # whatever alias it hides under
        assert _band_exchange_array_offenders(q.to_spark()) == []


def _band_exchange_array_offenders(sdf):
    """Walk the JVM physical plan: every Exchange whose output carries
    a band column, or whose hash partitioning covers both pair ids,
    must carry NO array-typed attribute — alias-proof (the name-regex
    guard alone would pass a vector smuggled back under a new name)."""
    offenders = []

    def attrs(node):
        seq = node.output()
        return [(seq.apply(i).name(), seq.apply(i).dataType().typeName())
                for i in range(seq.size())]

    def walk(node):
        if "Exchange" in node.nodeName():
            a = attrs(node)
            names = [n for n, _ in a]
            part = str(node.outputPartitioning().toString())
            banded = "band" in names
            pair_hashed = "id_a" in part and "id_b" in part
            if banded or pair_hashed:
                arrays = [n for n, t in a if t == "array"]
                if arrays:
                    offenders.append((node.nodeName(), part, arrays))
        ch = node.children()
        for i in range(ch.size()):
            walk(ch.apply(i))

    walk(sdf._jdf.queryExecution().sparkPlan())
    return offenders


def test_band_exchange_guard_catches_regression(tables):
    """The guard itself must fire: a deliberately bad plan that
    repartitions by a band key WITH the vector aboard is flagged."""
    import pyspark.sql.functions as F

    emb = tables["embeddings"].to_spark()
    bad = (
        emb.select("vec_id", "embedding")
        .withColumn("band", F.pmod(F.xxhash64("vec_id"), F.lit(8)))
        .repartition("band")
    )
    off = _band_exchange_array_offenders(bad)
    assert off and any("embedding" in names for _, _, names in off)


def test_profiler_sql_metrics(spark):
    """The profiler walks the FINAL adaptive plan and surfaces
    per-operator SQLMetrics: aggregate output rows and shuffle bytes
    must both be visible for a shuffling groupBy."""
    import pandas as pd

    import dask_spark as ds
    from dask_spark.plans.profiler import profile, sql_metrics

    pdf = pd.DataFrame({"k": [i % 5 for i in range(1000)], "v": range(1000)})
    f = ds.from_pandas(pdf, npartitions=4).groupby("k").sum(["v"])
    # default (count-mode) profile on a FRESH frame must see real
    # metrics — it executes its own checksum materialization, never a
    # derived count whose plan would leave these accumulators at 0
    p0 = profile(ds.from_pandas(pdf, npartitions=4).groupby("k").sum(["v"]))
    assert p0["shuffle_bytes_written"] > 0
    assert p0["exchange_rows"] > 0
    m = sql_metrics(f, action="collect")
    agg_rows = m[(m.node.str.contains("Aggregate")) & (m.metric == "numOutputRows")]
    # partial aggregate emits npartitions×groups rows; the FINAL one 5
    assert len(agg_rows) and 5 in set(agg_rows.value)
    assert (m[m.metric == "shuffleBytesWritten"].value > 0).any()

    p = profile(f)
    assert p["shuffle_bytes_written"] > 0 and p["wall_sec"] >= 0


def test_bm25_corpus_never_shuffles(tables):
    """BM25's only exchanges are the 1-row stats agg and its broadcast
    back — the scored corpus flows scan → map scoring → TakeOrdered
    with no hash partitioning of doc rows."""
    from dask_spark.operators.similarity import bm25_topk

    out = bm25_topk(tables["documents"], ["spark", "join"], k=5)
    plan = out.to_spark()._jdf.queryExecution().sparkPlan().toString()
    assert "TakeOrdered" in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    # no hashpartitioning over doc_id / the token column anywhere
    assert "hashpartitioning(doc_id" not in plan
    assert "hashpartitioning(__toks" not in plan


def test_temperature_mix_single_exchange(tables):
    from dask_spark.operators.mixing import temperature_mix
    from dask_spark.plans import shuffle_count

    assert shuffle_count(temperature_mix(tables["documents"])) == 1


def test_progress_bar(spark, tables):
    """ProgressBar twin (reference: dask/diagnostics/progress.py:32):
    the bar polls stage progress during any action inside the context
    and draws a final 100% line; last_duration is recorded."""
    import io

    from dask_spark.plans.progress import ProgressBar, format_time

    out = io.StringIO()
    bar = ProgressBar(spark=spark, dt=0.02, out=out)
    with bar:
        # a multi-stage job so the poll thread sees active stages
        tables["lineitem"].groupby("l_orderkey").sum(["l_quantity"]).compute()
    text = out.getvalue()
    assert "100% Completed" in text
    assert "#" * 40 in text
    assert bar.last_duration > 0
    # minimum threshold suppresses the final draw for fast work
    out2 = io.StringIO()
    with ProgressBar(spark=spark, minimum=3600, out=out2):
        pass
    assert out2.getvalue() == ""
    # register/unregister: bar survives across separate actions
    out3 = io.StringIO()
    b3 = ProgressBar(spark=spark, dt=0.02, out=out3).register()
    tables["orders"].compute()
    b3.unregister()
    assert "%" in out3.getvalue() or out3.getvalue() == ""  # drew or idle
    assert format_time(70) == " 1min 10.0s"


def test_round6_query_plan_shapes(spark):
    """100 TB plan shapes of the round-6 queries: the random draws and
    einsum/ma kernels are map-only projections (their only exchange is
    the final histogram/count groupBy — or none at all)."""
    import __spark_entry__ as E
    from dask_spark.plans import shuffle_count

    class _W:  # shuffle_count takes the frame wrapper
        def __init__(self, sdf):
            self._sdf = sdf

    sf = "/root/testdata/sf0.001"
    qs = E.queries()
    # two exchanges at most: the histogram/value-count groupBy plus
    # the presentation orderBy's range exchange — the DRAW itself is
    # map-only (nothing shuffles before the aggregate)
    for name in ("arr_random_uniform", "arr_random_poisson",
                 "arr_random_choice"):
        assert shuffle_count(_W(qs[name](spark, sf))) <= 2, name
    # einsum is a pure projection over the scan: zero exchanges
    assert shuffle_count(_W(qs["arr_einsum"](spark, sf))) == 0
    # ma stats: two map-only branches meet on one id join; no
    # aggregation exchange anywhere
    ma_plan = qs["arr_ma_stats"](spark, sf)
    assert shuffle_count(_W(ma_plan)) <= 2


def test_diagnostics_profilers(spark, tables):
    """Profiler/ResourceProfiler/CacheProfiler twins (reference:
    dask/diagnostics/profile.py + __init__.py): each polls the Spark
    signal matching dask's scheduler hooks — status tracker stages,
    driver /proc resources, RDD storage info — and records rows an
    assertion (or dask's visualize) can consume."""
    from dask_spark.diagnostics import (
        CacheProfiler, Profiler, ResourceProfiler, visualize,
    )

    li = tables["lineitem"]
    with Profiler(spark=spark, dt=0.02) as prof, \
            ResourceProfiler(spark=spark, dt=0.02) as rprof:
        li.groupby("l_returnflag").agg({"l_quantity": "sum"}).compute()
    assert len(prof.results) >= 1
    assert all(r.end >= r.start and r.num_tasks >= 1 for r in prof.results)
    assert len(rprof.results) >= 1
    assert all(r.mem_mb > 0 for r in rprof.results)

    with CacheProfiler(spark=spark, dt=0.02) as cprof:
        p = li.persist()
        p.compute()
    assert any(c.mem_bytes > 0 for c in cprof.results)

    txt = visualize([prof, rprof, cprof])
    assert "Profiler" in txt and "ResourceProfiler" in txt

    # register/unregister keep a profiler live across actions
    prof2 = Profiler(spark=spark, dt=0.02)
    prof2.register()
    li.compute()
    prof2.unregister()
    assert len(prof2.results) >= 0  # no crash; results frozen


@pytest.mark.smoke
def test_profiler_records_every_stage(spark, tables):
    """Profiler rows are exact: one per stage that ran in the block,
    even when every stage is shorter than a 50 ms polling interval. The
    expected count comes from the status tracker's job-group view, not
    from the reader the Profiler uses; skipped stages ran no task."""
    from dask_spark.diagnostics import Profiler

    sc = spark.sparkContext
    li, orders = tables["lineitem"], tables["orders"]
    try:
        for rep in range(3):
            group = f"profiler-exactness-{rep}"
            sc.setJobGroup(group, group)
            with Profiler(spark=spark) as prof:
                # join + groupby + sort: five short stages at sf0.001
                li.merge(orders, left_on="l_orderkey", right_on="o_orderkey") \
                    .groupby("o_orderpriority").agg({"l_quantity": "sum"}) \
                    .sort_values("o_orderpriority").compute()
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            tracker = sc.statusTracker()
            ran = {
                sid
                for jid in tracker.getJobIdsForGroup(group)
                for sid in tracker.getJobInfo(jid).stageIds
                if tracker.getStageInfo(sid).numCompletedTasks > 0
            }
            assert len(ran) >= 3
            assert len(prof.results) == len(ran)
            assert {r.stage_id for r in prof.results} == ran
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def _splan(sdf) -> str:
    return sdf._jdf.queryExecution().sparkPlan().toString()


def test_routines_plan_shapes(spark, tables):
    """Plan guardrails for the round-6 module-level routines: the
    map-only families must stay Exchange-free, take(axis=0) must
    broadcast its literal index list, and histogramdd must be one
    hash aggregate (reference routines are all blockwise/tree ops in
    dask/array/routines.py — these are the Spark equivalents)."""
    import numpy as np

    import dask_spark as ds
    import dask_spark.array as da
    from dask_spark.array import DArray

    e = tables["embeddings"]
    arr = DArray.from_frame(e, "embedding", "vec_id")

    # ufuncs / argtopk / searchsorted / push / nan-reductions: map-only
    assert "Exchange" not in _splan(da.sin(arr)._sdf)
    assert "Exchange" not in _splan(da.argtopk(arr, 5)._sdf)
    assert "Exchange" not in _splan(da.push(arr)._sdf)
    assert "Exchange" not in _splan(da.nanmax(arr)._sdf)
    ss = da.searchsorted([0.0, 0.5], e.label)
    assert "Exchange" not in _splan(
        ss._frame._sdf.select(ss._expr.alias("v"))
    )

    # gradient over an inner axis: one projection, no shuffle
    nd = ds.NDArray.from_darray(arr, 64).reshape(8, 8)
    assert "Exchange" not in _splan(da.gradient(nd, 2)._materialize()._sdf)

    # take(axis=0): the literal index list must ride a broadcast join
    tk = da.take(arr, [5, 1, 3], axis=0)
    p = _splan(tk._sdf)
    assert "BroadcastHashJoin" in p or "BroadcastExchange" in p, p[:800]

    # histogramdd: exactly one aggregation exchange (bins**D keys)
    li = tables["lineitem"]
    h = da.histogramdd(li, ["l_quantity", "l_discount"], 4,
                       [(0.0, 50.0), (0.0, 0.1)])
    p = _splan(h._sdf)
    assert p.count("Exchange") <= 2  # partial->final agg plus AQE read
    assert "HashAggregate" in p


def test_knn_join_scoring_plan(spark, tables):
    """The knn-join fix stays fixed: the pair-level plan must carry
    the precomputed inverse norms through the fetch joins (scalar
    columns, not per-pair norm recomputation) and score in ONE Arrow
    pass (a single mapInArrow over the joined candidates — r15 moved
    the scorer from mapInPandas to mapInArrow for the zero-copy list
    buffer reshape)."""
    from dask_spark.operators.similarity import knn_join

    e = tables["embeddings"]
    out = knn_join(e, e, k=3, bands=4, planes=4, exclude_self=True,
                   round_dp=4)
    p = _splan(out._sdf)
    # the python scorer appears exactly once
    assert p.count("MapInArrow") == 1, p[:2000]
    # no unrolled per-pair norm: exactly one SQRT per side projection
    # (a per-pair cosine would re-inline norm computations above the
    # fetch joins)
    assert p.upper().count("SQRT") == 2, p[:2000]


def test_codegen_failure_scanner():
    # the exact shapes Spark logs on a silent interpreted fallback
    from dask_spark.plans import codegen_failure_lines

    log = "\n".join([
        "26/08/14 12:00:00 ERROR CodeGenerator: Failed to compile the "
        "generated Java code.",
        "org.codehaus.commons.compiler.InternalCompilerException: ...",
        "26/08/14 12:00:01 INFO CodeGenerator: Code generated in 12 ms",
        "26/08/14 12:00:02 INFO WholeStageCodegenExec: Found too long "
        "generated codes and JVM bytecode of compiled methods exceeds "
        "spark.sql.codegen.hugeMethodLimit: 65535",
        "26/08/14 12:00:03 WARN TaskSetManager: Broadcasting large task "
        "binary with size 1292.4 KiB",
    ])
    hits = codegen_failure_lines(log)
    assert len(hits) == 2
    assert "Failed to compile" in hits[0]
    assert "hugeMethodLimit" in hits[1]
    assert codegen_failure_lines("all good\nINFO CodeGenerator: ok") == []


def test_round11b_plan_shapes(tables):
    """Plan-shape guards for the round-11b ops: JL projection and
    split assignment are exchange-free map-only projections; the
    quality gate's row rules share ONE aggregation (its exchange
    count stays at the agg + distinct + FK joins, never per-rule);
    NB prediction adds no exchange on top of the scan."""
    from dask_spark.functions.text import NaiveBayesModel, hashed_nb_predict
    from dask_spark.functions.vector import jl_project
    from dask_spark.operators.mixing import split_assign
    from dask_spark.operators.quality import validate
    from dask_spark.plans import shuffle_count

    emb = tables["embeddings"]
    assert shuffle_count(jl_project(emb, dim=64, k=4, seed=3)) == 0

    docs = tables["documents"]
    assert shuffle_count(split_assign(docs, "doc_id")) == 0

    from dask_spark.frame import DaskFrame

    model = NaiveBayesModel(
        ["a", "b"], [-0.5, -0.9], [[-1.0] * 8, [-2.0] * 8], 8, 1.0, "md5"
    )
    assert shuffle_count(
        DaskFrame(hashed_nb_predict(docs._sdf, model))
    ) == 0

    li = tables["lineitem"]
    rules = [
        {"rule": "not_null", "name": "r1", "col": "l_shipdate"},
        {"rule": "in_range", "name": "r2", "col": "l_quantity",
         "min": 1, "max": 49},
        {"rule": "expr", "name": "r3", "expr": "l_extendedprice > 0"},
        {"rule": "in_set", "name": "r4", "col": "l_returnflag",
         "values": ["A", "N", "R"]},
    ]
    # 4 row rules, no unique/FK: one global aggregate = one exchange
    # (plus the tiny order-join broadcast, which is not an exchange)
    assert shuffle_count(validate(li, rules)) <= 1


def test_warehouse_ops_plan_shapes(spark):
    """Exchange-count guards for the warehouse primitives: CDC apply
    and SCD2 pay ONE key exchange (union/window, no second pass);
    merge_partials is the two input aggs + the full-outer join —
    never a rescan of raw history."""
    from dask_spark.frame import DaskFrame
    from dask_spark.operators.joins import apply_cdc, scd2_intervals
    from dask_spark.plans import shuffle_count

    state = spark.createDataFrame(
        [(i, float(i)) for i in range(100)], "k bigint, v double"
    )
    changes = spark.createDataFrame(
        [(1, 9.0, 1, "U"), (2, 0.0, 2, "D")],
        "k bigint, v double, seq bigint, op string",
    )
    assert shuffle_count(apply_cdc(state, changes, "k")) <= 2

    import datetime as dt

    obs = spark.createDataFrame(
        [(1, "a", dt.date(2024, 1, 1)), (1, "b", dt.date(2024, 2, 1))],
        "k bigint, attr string, ts date",
    )
    # islands + lead share the key partitioning: window+agg+window
    assert shuffle_count(scd2_intervals(obs, "k", "attr", "ts")) <= 2


def test_no_unpartitioned_windows_in_source():
    """Repo invariant since r12: ZERO ``Window.partitionBy()`` (empty
    partition spec) call sites anywhere in dask_spark — an
    unpartitioned window funnels its whole input through one task, and
    the one place it was 'safe' (value_counts normalize, bounded 'one
    row per distinct value') is unbounded for near-unique columns at
    100 TB. Density/proportion normalizations use the scalar-agg +
    crossJoin(broadcast(total)) pattern instead (ReuseExchange keeps
    it one scan). AST-walk so docstrings mentioning the anti-pattern
    don't false-positive."""
    import ast
    import pathlib

    root = pathlib.Path(__file__).resolve().parents[1] / "dask_spark"
    offenders = []
    for path in sorted(root.rglob("*.py")):
        tree = ast.parse(path.read_text())
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "partitionBy"
                and isinstance(node.func.value, ast.Name)
                and node.func.value.id == "Window"
                and not node.args
                and not node.keywords
            ):
                offenders.append(f"{path.name}:{node.lineno}")
    assert not offenders, (
        f"unpartitioned Window.partitionBy() call sites: {offenders} — "
        "use scalar agg + crossJoin(F.broadcast(...)) instead"
    )
