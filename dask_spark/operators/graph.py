"""Link-graph operators for corpus quality signals.

PageRank is the classic web-corpus quality prior (Page et al. 1999;
Common-Crawl-scale pipelines rank hosts with it before sampling).
The reference engine has no graph module — its nearest machinery is
the iterative min-label propagation this repo already ships for
near-dup components (operators/dedup.py connected_components) — so
this follows the same Spark-first shape: a driver loop of
join + map-side-combined aggregate rounds over DataFrames, lineage
truncated by localCheckpoint every few rounds (the round-9
label-propagation lesson: Catalyst tree formatting OOMs on deep
plans).

Exactness contract (the registry/oracle bar): ranks are held in
SCALED INTEGER arithmetic — contributions are ``rank div outdeg``
(bigint), the in-neighbor sum is an exact int64 aggregate (order-free,
so partitioning/fetch order can never move the value), and damping is
``(num * s) div den`` — so every iteration is bit-identical between
Spark and the DuckDB oracle's unrolled-CTE replay, with zero floating
point anywhere.

100 TB shape: the per-iteration bill is ONE join of the edge table
with the node-keyed rank table on src and ONE dst-keyed aggregate.
The edge table is built once — a single src-keyed exchange, with
out-degrees from a src window — and cached by a lazy
localCheckpoint. No co-partitioning survives that checkpoint under
AQE: its LogicalRDD reports UnknownPartitioning(0)
(hashpartitioning(src) only with AQE off), so the planner sees an
unpartitioned edge side. At small scale (sf0.01) AQE turns every
per-round join into a broadcast hash join of whichever side is
smaller at run time; at scale it is a shuffle join on src. Under
AQE a lazy checkpoint also runs its subtree's shuffle stages when it
is CALLED, not at the first action, which is why the build is kept
to one exchange. The first round needs no join at all, since every
initial rank is a function of the node id. The dst-keyed
aggregate's exchange is
map-side combined — per-partition state is one partial sum per
distinct dst in the partition, and celebrity in-degree skew collapses
map-side exactly like any skewed groupBy-sum. Rank state is
nodes-sized and stays distributed end to end; nothing node- or
edge-sized ever reaches the driver. Overflow headroom: the damped
in-sum is bounded by num · N · scale, so pick scale ≤ 2^62 / (num·N)
— at 10^9 nodes, scale = 10^8 still leaves 8 exact digits per rank.
"""

from __future__ import annotations

import logging
import os

import pyspark.sql.functions as F
from pyspark.sql import Window

from dask_spark.frame import DaskFrame

# r16 size-adaptive caching (guide §5; r15 verdict item 1): the graph
# operators read their edge/adjacency subtree from several branches,
# and that subtree is typically a self-join + aggregate over the
# corpus — at 100 TB re-executing it per branch IS the query's bill,
# while at toy SF the columnar cache build costs more than the
# recompute it saves (the r15 interleaved A/B that reverted the
# blanket persists). The decision is therefore made from the LEAF
# SCAN BYTES of the subtree's plan (the honest, estimate-inflation-
# free scale proxy: join/aggregate estimates multiply, file sizes
# don't): persist only when re-reading the base tables is expensive.
# Local default 64 MB keeps sf0.1 bench plans byte-comparable with
# r15 (2 x ~7 MB lineitem scans stay under it) and flips the cache on
# from roughly sf0.5 up; production overrides via env.
_PERSIST_INPUT_BYTES = int(
    os.environ.get("SPARK_GRAFT_GRAPH_PERSIST_BYTES", str(64 << 20))
)

_log = logging.getLogger("dask_spark")
_probe_warned = False  # _scan_bytes warns once per process


def _scan_bytes(sdf) -> int:
    """Sum of the leaf relations' stats sizes in ``sdf``'s ANALYZED
    plan — parquet leaves report actual file bytes, so this measures
    how much base-table I/O one execution of the subtree pays. The
    analyzed plan (not the optimized one) is used deliberately:
    analysis already ran eagerly when the DataFrame was built, so the
    probe is O(plan nodes) on the driver, while forcing optimization
    here would pay a fresh Catalyst pass per call (~0.1-0.4 s,
    measured).

    A leaf whose size is the ``spark.sql.defaultSizeInBytes``
    sentinel has no statistics: a LogicalRDD without origin stats,
    such as an RDD-backed frame (a checkpoint's LogicalRDD keeps the
    stats of the plan it cut, so it counts at that size). Such a
    leaf is already materialized (re-reading it costs no base-table
    I/O), so it counts 0 instead of Long.MaxValue, which would force
    a second checkpoint of data that is already cut. If the probe
    itself fails the answer is 0 (no cache: the plan stays correct,
    only the optimization is lost), and that is logged once."""
    global _probe_warned
    try:
        default = sdf._jdf.sparkSession().sessionState().conf() \
            .defaultSizeInBytes()
        leaves = sdf._jdf.queryExecution().analyzed().collectLeaves()
        sizes = (
            int(leaves.apply(i).stats().sizeInBytes())
            for i in range(leaves.size())
        )
        return sum(b for b in sizes if b != default)
    except Exception as exc:
        if not _probe_warned:
            _probe_warned = True
            _log.warning(
                "graph cache probe failed (%s: %s); size-adaptive "
                "caching is off for this input", type(exc).__name__, exc,
            )
        return 0


def _persist_if_big(sdf):
    """Cache a multiply-consumed subtree when its leaf-scan bytes
    cross the threshold (see _PERSIST_INPUT_BYTES); a no-op below it.
    The mechanism is a lazy ``localCheckpoint`` — measured CHEAPER to
    build than ``persist``'s columnar cache at 10× SF (graph family
    total 72.8s vs 78.5s persist vs 86.2s uncached) because blocks
    store as computed instead of re-encoding; the trade, same as this
    repo's other checkpoints, is that a lost block fails the job
    rather than recomputing. Blocks are freed by the ContextCleaner
    when the plan is GC'd."""
    sl = sdf.storageLevel
    if sl.useMemory or sl.useDisk:  # caller already persisted it
        return sdf
    if _scan_bytes(sdf) >= _PERSIST_INPUT_BYTES:
        return sdf.localCheckpoint(eager=False)
    return sdf


# NOTE (r16, measured): rewriting the two-scan symmetrize/endpoint
# unions as one-pass explode/inline was tried and REVERTED — the
# Generate node defeats Catalyst's size estimation, flipping 8 of the
# family's BroadcastHashJoins to SortMergeJoin (graph_triangles
# 2.5s → 11.4s, pagerank 2.7s → 4.8s at sf0.1). The duplicated scan
# the union pays is instead absorbed by _persist_if_big: once the
# edge set is cached, both union branches read the cache.


def _canonical_edges(sdf, a_col: str, b_col: str):
    """The undirected edge set as distinct (a, b) bigint pairs with
    a < b: each edge canonicalized to (least, greatest), self-loops
    and duplicates dropped."""
    return sdf.select(
        F.least(F.col(a_col), F.col(b_col)).cast("bigint").alias("a"),
        F.greatest(F.col(a_col), F.col(b_col)).cast("bigint").alias("b"),
    ).filter(F.col("a") < F.col("b")).distinct()


def _adjacency(e):
    """Both orientations (u, v) of every canonical edge (a, b)."""
    return e.select(F.col("a").alias("u"), F.col("b").alias("v")).unionAll(
        e.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )


def _degrees(e, node: str = "n", deg: str = "d"):
    """(node, deg) bigint degree of every endpoint of the canonical
    edge set ``e`` — one node-keyed, map-side-combined count."""
    return (
        e.select(F.col("a").alias(node))
        .unionAll(e.select(F.col("b").alias(node)))
        .groupBy(node).agg(F.count(F.lit(1)).cast("bigint").alias(deg))
    )


def pagerank(edges, src_col: str = "src", dst_col: str = "dst",
             iters: int = 3, scale: int = 10 ** 12,
             damping_num: int = 85, damping_den: int = 100,
             symmetric: bool = False, weight_col: str | None = None,
             seed_fn=None):
    """Integer-exact PageRank over an edge list → DaskFrame(node,
    rank) with rank on the ``scale`` grid (initial rank = scale per
    node; teleport share = scale·(den-num) div den).

    ``symmetric=True`` unions the reversed edges first (the bipartite
    / undirected case — e.g. order↔part co-occurrence — where raw
    directed edges would make every sink node dangling). Dangling
    nodes (no out-edges after symmetrization) leak their rank mass,
    the standard simplification when PageRank is a relative quality
    signal rather than a probability distribution; document or
    symmetrize as the graph demands.

    ``weight_col`` names a POSITIVE INTEGER edge weight: parallel
    edges sum their weights (so raw event rows weight-1 give
    multiplicity weighting), and a src's rank splits as
    (r·w) div Σw — still pure int64. ``seed_fn`` (node Column →
    boolean Column) personalizes: teleport mass lands ONLY on seed
    nodes and initial rank is scale on seeds / 0 elsewhere — the
    personalized-PageRank form (topic/domain-centric importance).

    Determinism: every arithmetic step is int64 (div = truncating
    integer division on nonnegative operands in both engines), so the
    result is a pure function of the weighted edge SET — partition
    counts, fetch order and AQE decisions cannot move it. Overflow
    budget: num · Σranks and r · w_max must stay under 2^63 — shrink
    ``scale`` as N grows (10^8 at 10^9 nodes still keeps 8 exact
    digits).

    Skew: the edge table is built from one hash exchange on src, so a
    hub src's full adjacency sits in one partition while its
    out-degree window runs (the window buffer spills past
    ``spark.sql.windowExec.buffer.spill.threshold`` rather than
    failing). The degree join this replaced had the same src-keyed
    layout, but AQE could split a skewed partition there; the window
    cannot be split. The per-round join and the map-side-combined
    in-sum are unaffected.

    Caching and failure: the degree-annotated edge table (and, in
    directed mode, the node set) is cached by a lazy
    ``localCheckpoint``, not ``persist()``, so a call leaves no entry
    in the session's cache manager; the blocks are freed once the
    result's plan is garbage-collected. As with every checkpoint in
    this module, a lost checkpoint block fails the query rather than
    recomputing it.
    """
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    sdf = edges._sdf if isinstance(edges, DaskFrame) else edges
    cols = [
        F.col(src_col).cast("bigint").alias("src"),
        F.col(dst_col).cast("bigint").alias("dst"),
    ]
    if weight_col is not None:
        cols.append(F.col(weight_col).cast("bigint").alias("w"))
    e = sdf.select(*cols).filter(
        F.col("src").isNotNull() & F.col("dst").isNotNull()
    )
    if weight_col is not None:
        e = e.filter(F.col("w") > 0)
    if symmetric:
        # one dedup AFTER the union subsumes a pre-union dedup
        # (same edge set, one fewer full-edge exchange)
        rev = [F.col("dst").alias("src"), F.col("src").alias("dst")]
        if weight_col is not None:
            rev.append(F.col("w"))
        e = e.unionAll(e.select(*rev))
    # ONE edge-sized exchange, on src. hash(src) already satisfies the
    # (src, dst) dedup / weight merge and the src-keyed degree window,
    # so neither plans an exchange of its own and out-degrees need no
    # join (a hub src's whole adjacency sits in one partition here; see
    # the docstring).
    e = e.repartition("src")
    if weight_col is not None:
        # parallel edges merge by SUMMING weight (multiplicity)
        e = e.groupBy("src", "dst").agg(F.sum("w").alias("w"))
        deg = F.sum("w")
    else:
        e = e.distinct()
        deg = F.count(F.lit(1))
    # ed is read once per round. A lazy localCheckpoint caches it
    # without the near-empty AQE job per reference that a persist()ed
    # relation costs (lifetime and failure: see the docstring).
    ed = e.withColumn(
        "outdeg", deg.over(Window.partitionBy("src"))
    ).localCheckpoint(eager=False)
    # directed mode needs the node set for the per-round left join
    # (nodes without in-edges still get the teleport share); in
    # symmetric mode every node has an in-edge, so the in-sum already
    # covers all nodes and no node table is built at all.
    if not symmetric:
        nodes = (
            e.select(F.col("src").alias("node"))
            .unionAll(e.select(F.col("dst").alias("node")))
            .distinct().localCheckpoint(eager=False)
        )

    teleport = (int(scale) * (damping_den - damping_num)) // damping_den
    damp = F.expr(f"({damping_num} * coalesce(s, 0L)) div {damping_den}")

    def seeded(value, node):
        v = F.lit(value).cast("bigint")
        if seed_fn is None:
            return v
        return F.when(seed_fn(node), v).otherwise(F.lit(0).cast("bigint"))

    tele = seeded(teleport, F.col("node"))
    contrib_expr = (
        "(r * w) div outdeg" if weight_col is not None else "r div outdeg"
    )
    # round 1 needs no rank table: every src starts at its initial
    # rank (scale, or scale/0 under seed_fn), a pure function of src
    ranked = ed.withColumn("r", seeded(int(scale), F.col("src")))
    n_it = int(iters)
    for i in range(n_it):
        if i:
            ranked = ed.join(ranks, ed["src"] == ranks["node"])
        contrib = ranked.select("dst", F.expr(contrib_expr).alias("c"))
        insum = contrib.groupBy("dst").agg(F.sum("c").alias("s"))
        if symmetric:
            ranks = insum.select(F.col("dst").alias("node"),
                                 (tele + damp).alias("r"))
        else:
            ranks = nodes.join(
                insum, nodes["node"] == insum["dst"], "left"
            ).select("node", (tele + damp).alias("r"))
        # lineage truncation every 3 rounds, never after the last:
        # each lazy checkpoint still materializes as its own job at
        # action time (a whole-job scheduling floor), and ranks is
        # single-referenced per iteration, so shallow chains are safe
        # to leave fused
        if (i + 1) % 3 == 0 and (i + 1) < n_it:
            ranks = ranks.localCheckpoint(eager=False)
    return DaskFrame(ranks.select("node", F.col("r").alias("rank")))


def triangle_count(edges, a_col: str = "a", b_col: str = "b",
                   assume_canonical: bool = False):
    """Per-node triangle counts over an UNDIRECTED edge list →
    DaskFrame(node, triangles), nodes without triangles omitted.

    Degree-oriented wedge join (the "compact-forward" shape, Latapy
    2008 — the standard distributed formulation): canonicalize +
    dedupe edges, orient each from the lower (degree, id) endpoint to
    the higher, self-join oriented adjacency on the wedge center, and
    close each wedge against the oriented edge set. The orientation
    bounds every node's out-degree by O(sqrt E) (graph arboricity), so
    the wedge exchange is O(E^1.5) worst-case instead of the
    sum-of-degree-squares a naive neighbor join pays — the difference
    between feasible and dead on a power-law web graph. Every
    exchange carries ids only; counts are exact integers, so the
    result is a pure function of the edge set and the DuckDB oracle
    replays it row-for-row.

    ``assume_canonical=True`` promises the input is already the
    canonical distinct (a < b) bigint edge set — callers that computed
    it skip a redundant dedup exchange (r15; a BLANKET persist of
    ``e`` was measured here too and REVERTED at toy SF: the columnar
    cache build cost more than the duplicate-subtree executions it
    saved. r16 re-measured at 10× SF with the size-adaptive cache:
    triangle_count's OWN ``e`` fan-out is 3 scans, all inside the one
    materialization of the already-persisted ``o`` — caching it was
    still a small net loss (19.6s → 22.0s), so standalone
    triangle_count leaves ``e`` uncached; clustering_coefficient,
    whose fan-out is 5, caches it BEFORE passing it in (a 10×-SF win,
    31.9s → 17.1s))."""
    sdf = edges._sdf if isinstance(edges, DaskFrame) else edges
    e = sdf if assume_canonical else _canonical_edges(sdf, a_col, b_col)
    deg = _degrees(e)
    da = deg.select(F.col("n").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("n").alias("b"), F.col("d").alias("db"))
    ed = e.join(da, "a").join(db, "b")
    lower_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    o = ed.select(
        F.when(lower_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(lower_first, F.col("b")).otherwise(F.col("a")).alias("v"),
        F.when(lower_first, F.col("db")).otherwise(F.col("da")).alias("dv"),
    ).persist()
    o1 = o.select(F.col("u"), F.col("v").alias("v1"), F.col("dv").alias("d1"))
    o2 = o.select(F.col("u"), F.col("v").alias("v2"), F.col("dv").alias("d2"))
    wedges = o1.join(o2, "u").filter(
        (F.col("d1") < F.col("d2"))
        | ((F.col("d1") == F.col("d2")) & (F.col("v1") < F.col("v2")))
    )
    closing = o.select(F.col("u").alias("v1"), F.col("v").alias("v2"))
    tri = wedges.join(closing, ["v1", "v2"]).select("u", "v1", "v2")
    per_node = (
        tri.select(F.explode(F.array("u", "v1", "v2")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("triangles"))
    )
    return DaskFrame(per_node)


def clustering_coefficient(edges, a_col: str = "a", b_col: str = "b",
                           round_dp: int = 6):
    """Local clustering coefficient per node → DaskFrame(node, deg,
    triangles, cc): cc = 2·T / (d·(d−1)) — the fraction of a node's
    neighbor pairs that are themselves connected (Watts & Strogatz
    1998), the standard graph-cohesion quality signal. Degree-1 nodes
    have no neighbor pair and score 0.

    Rides triangle_count's oriented wedge join (same O(E^1.5) bill)
    plus one node-keyed degree aggregate; cc is ONE division of exact
    integers, rounded on both engines. triangle_count receives the
    canonical edge set pre-canonicalized (r15) so its re-dedup
    distinct exchange drops out of the plan."""
    sdf = edges._sdf if isinstance(edges, DaskFrame) else edges
    e = _canonical_edges(sdf, a_col, b_col)
    e = _persist_if_big(e)  # 5 scans: deg's 2 + triangle_count's 3
    deg = _degrees(e, "node", "deg")
    tri = triangle_count(e, "a", "b", assume_canonical=True)._sdf
    out = deg.join(tri, "node", "left").select(
        "node", "deg",
        F.coalesce(F.col("triangles"), F.lit(0).cast("bigint"))
        .alias("triangles"),
        F.when(
            F.col("deg") >= 2,
            F.round(
                2.0 * F.coalesce(F.col("triangles"), F.lit(0))
                .cast("double")
                / (F.col("deg") * (F.col("deg") - 1)).cast("double"),
                round_dp,
            ),
        ).otherwise(F.lit(0.0)).alias("cc"),
    )
    return DaskFrame(out)


def k_core(edges, k: int, a_col: str = "a", b_col: str = "b",
           rounds: int | None = None, max_rounds: int = 100):
    """k-core decomposition (Seidman 1983): iteratively peel nodes of
    degree < k until the remaining induced subgraph has min-degree k
    → DaskFrame(node, core_deg) of surviving nodes with their
    in-core degree (empty when the graph has no k-core).

    Per peel round: one node-keyed degree aggregate (map-side
    combined) + two semi joins restricting the adjacency to
    surviving endpoints — adjacency-bounded exchanges, lineage
    truncated per round. ``rounds=None`` peels to convergence with
    one tiny count per round (rounds ≤ peel depth ≤ |V|);
    ``rounds=R`` runs EXACTLY R rounds (post-convergence rounds are
    no-ops), the replayable form an unrolled SQL oracle can mirror
    round-for-round."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    sdf = edges._sdf if isinstance(edges, DaskFrame) else edges
    e = _canonical_edges(sdf, a_col, b_col)
    adj = _adjacency(e).localCheckpoint(eager=False)

    def degs(a):
        return a.groupBy("u").agg(
            F.count(F.lit(1)).cast("bigint").alias("core_deg")
        )

    n_alive = None
    i = 0
    while True:
        keep = degs(adj).filter(F.col("core_deg") >= int(k))
        alive = keep.select("u")
        adj = adj.join(alive, "u", "semi").join(
            alive.select(F.col("u").alias("v")), "v", "semi"
        )
        i += 1
        # checkpoint every few rounds, not every round: a 3-round
        # nested join+agg plan is cheap for Catalyst, while a
        # per-round checkpoint pays a whole job's scheduling floor
        # per round (36s -> ~4s at sf0.001 for the 10-round replay)
        if i % 3 == 0:
            adj = adj.localCheckpoint(eager=False)
        if rounds is not None:
            if i >= int(rounds):
                break
        else:
            cnt = alive.count()
            if n_alive is not None and cnt == n_alive:
                break
            n_alive = cnt
            if i >= int(max_rounds):
                raise ValueError(
                    f"k_core did not converge within {max_rounds} rounds"
                )
    out = degs(adj).filter(F.col("core_deg") >= int(k))
    return DaskFrame(out.select(F.col("u").alias("node"), "core_deg"))


def modularity(edges, communities, a_col: str = "a", b_col: str = "b",
               node_col: str = "node", com_col: str = "community",
               round_dp: int = 6):
    """Newman modularity decomposition of a community assignment →
    DaskFrame(community, n_nodes, internal_edges, degree_sum,
    contribution): Q = Σ_c [e_c/m − (D_c/2m)²] (Newman & Girvan 2004)
    — per-community ``contribution`` terms over an UNDIRECTED edge
    list, the standard "is this partition better than chance" score
    for community detection / attribute-assortativity checks (are
    co-purchased parts the same brand? do linked hosts share a TLD?).

    100 TB shape: canonicalize+dedupe edges, TWO node-keyed joins tag
    each edge's endpoint communities (the community map usually
    broadcasts — it is nodes-sized), then everything collapses into
    community-keyed integer aggregates (exchange ≤ |communities|
    partials per partition): e_c, D_c, n_c and the global m are EXACT
    int64, and each contribution is one pinned float expression of
    them — no fold, no order sensitivity, bit-identical across
    engines. Nodes absent from the community map drop (inner join);
    their edges still count in m and in their partner's degree."""
    esdf = edges._sdf if isinstance(edges, DaskFrame) else edges
    csdf = (communities._sdf if isinstance(communities, DaskFrame)
            else communities)
    e = _canonical_edges(esdf, a_col, b_col)
    e = _persist_if_big(e)  # consumed by m_agg, tagged, and deg
    cmap = csdf.select(
        F.col(node_col).cast("bigint").alias("n"),
        F.col(com_col).alias("c"),
    ).distinct()
    m_agg = e.groupBy().agg(F.count(F.lit(1)).cast("bigint").alias("m"))

    tagged = (
        e.join(cmap.select(F.col("n").alias("a"),
                           F.col("c").alias("ca")), "a")
        .join(cmap.select(F.col("n").alias("b"),
                          F.col("c").alias("cb")), "b")
    )
    internal = (
        tagged.filter(F.col("ca") == F.col("cb"))
        .groupBy(F.col("ca").alias("community"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("internal_edges"))
    )
    deg = _degrees(e)
    per_com = (
        cmap.join(deg, "n", "left")
        .groupBy(F.col("c").alias("community"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
            F.sum(F.coalesce(F.col("d"), F.lit(0).cast("bigint")))
            .cast("bigint").alias("degree_sum"),
        )
    )
    joined = (
        per_com.join(internal, "community", "left")
        .withColumn(
            "internal_edges",
            F.coalesce(F.col("internal_edges"), F.lit(0).cast("bigint")),
        )
        .crossJoin(F.broadcast(m_agg))
    )
    frac = (F.col("degree_sum").cast("double")
            / (F.col("m") * F.lit(2)).cast("double"))
    contrib = (
        F.col("internal_edges").cast("double") / F.col("m").cast("double")
        - frac * frac
    )
    # m = 0 (no edges at all): modularity is undefined — emit null
    # contributions instead of an ANSI divide-by-zero mid-job
    contrib = F.when(F.col("m") > 0, contrib)
    out = joined.select(
        "community", "n_nodes", "internal_edges", "degree_sum",
        F.round(contrib, round_dp).alias("contribution"),
    )
    return DaskFrame(out)


def jaccard_similarity(edges, a_col: str = "a", b_col: str = "b",
                       min_common: int = 1,
                       max_center_degree: int | None = None,
                       round_dp: int = 6):
    """Neighborhood Jaccard similarity for node pairs →
    DaskFrame(x, y, common, deg_x, deg_y, jaccard) with x < y and
    jaccard = |N(x)∩N(y)| / |N(x)∪N(y)| — the classic link-prediction
    / related-item score (co-purchase "customers also bought").

    Common neighbors come from the wedge self-join on the shared
    center (exchange O(Σ d_u²) — the inherent bill of enumerating
    co-neighbor pairs); ``max_center_degree`` prunes hub centers
    before the join (a degree-10⁶ hub contributes 10¹² wedge pairs of
    near-zero signal — dropping super-hubs is the standard industrial
    mitigation, and it changes ``common`` only for pairs whose shared
    neighbor IS a hub, documented semantics). Degrees join from the
    full graph either way; all counts exact int64, jaccard one pinned
    division rounded on both engines."""
    sdf = edges._sdf if isinstance(edges, DaskFrame) else edges
    e = _canonical_edges(sdf, a_col, b_col)
    # the adjacency — read by deg and BOTH wedge sides — caches
    # size-adaptively (see _persist_if_big; blanket persist was the
    # r15 toy-SF loss, zero caching was the 100 TB loss)
    adj = _persist_if_big(_adjacency(e))
    deg = adj.groupBy(F.col("u").alias("n")).agg(
        F.count(F.lit(1)).cast("bigint").alias("d")
    )
    centers = adj
    if max_center_degree is not None:
        keep = deg.filter(F.col("d") <= int(max_center_degree)).select(
            F.col("n").alias("u")
        )
        centers = adj.join(F.broadcast(keep), "u")
    w1 = centers.select("u", F.col("v").alias("x"))
    w2 = centers.select("u", F.col("v").alias("y"))
    common = (
        w1.join(w2, "u")
        .filter(F.col("x") < F.col("y"))
        .groupBy("x", "y")
        .agg(F.count(F.lit(1)).cast("bigint").alias("common"))
        .filter(F.col("common") >= int(min_common))
    )
    dx = deg.select(F.col("n").alias("x"), F.col("d").alias("deg_x"))
    dy = deg.select(F.col("n").alias("y"), F.col("d").alias("deg_y"))
    out = (
        common.join(dx, "x").join(dy, "y")
        .select(
            "x", "y", "common", "deg_x", "deg_y",
            F.round(
                F.col("common").cast("double")
                / (F.col("deg_x") + F.col("deg_y") - F.col("common"))
                .cast("double"),
                round_dp,
            ).alias("jaccard"),
        )
    )
    return DaskFrame(out)


def bfs_hops(edges, source, a_col: str = "a", b_col: str = "b",
             rounds: int = 6):
    """Bounded-round BFS hop distance from ``source`` over an
    UNDIRECTED edge list → DaskFrame(node, dist) for every node
    reached within ``rounds`` hops (source at dist 0) — the
    neighborhood-expansion primitive (how close is this part to the
    seed product? which hosts sit within 3 links of a spam hub?).

    Frontier form (the Pregel superstep shape): per round ONE
    src-keyed join of the CURRENT frontier (never the visited set)
    against adjacency + one anti join against visited — exchanges
    carry ids only and are bounded by frontier×degree. Each round's
    frontier materializes eagerly (localCheckpoint), which caps
    lineage AND enables early termination: an empty frontier can
    never produce candidates, so the loop stops instead of paying the
    remaining rounds' whole-job scheduling floors (the r11 fully-lazy
    6-round plan paid all 6 even when the source's component died at
    hop 1; a recursive-CTE rewrite was rejected — Spark 4 supports
    only UNION ALL recursion, which path-explodes on cyclic graphs).
    Hop distances are exact integers, a pure function of the edge
    set, so any correct BFS — including a recursive-CTE oracle —
    agrees row-for-row."""
    if rounds < 0:
        raise ValueError(f"rounds must be >= 0, got {rounds}")
    if source is None:
        raise ValueError(
            "bfs_hops: source is None — empty edge set? (the usual "
            "caller bug: seeding from MIN(node) of a graph with no "
            "qualifying edges)"
        )
    sdf = edges._sdf if isinstance(edges, DaskFrame) else edges
    e = _canonical_edges(sdf, a_col, b_col)
    adj = _adjacency(e).localCheckpoint(eager=False)
    spark = sdf.sparkSession
    visited = spark.createDataFrame(
        [(int(source), 0)], "node bigint, dist int"
    )
    frontier = visited.select("node")
    n = int(rounds)
    for r in range(1, n + 1):
        nxt = (
            frontier.join(adj, frontier["node"] == adj["u"])
            .select(F.col("v").alias("node")).distinct()
            .join(visited.select("node"), "node", "anti")
        )
        # Materialize the frontier each round (the Pregel superstep
        # contract) — an empty frontier can never produce candidates,
        # so stopping early is ALWAYS semantics-preserving and saves
        # the remaining rounds' whole-job scheduling floors (the r11
        # fully-lazy 6-round plan paid all 6 even when the source's
        # component died at hop 1). The eager checkpoint also caps
        # lineage, so no r%3 frontier checkpoints are needed.
        step = nxt.select(
            "node", F.lit(r).cast("int").alias("dist")
        ).localCheckpoint(eager=True)
        if not step.take(1):
            break
        visited = visited.unionByName(step)
        frontier = step.select("node")
    return DaskFrame(visited)
