"""The benchmark's workloads: registry queries run on seeded inputs.

Each workload loads a different layer of the engine.  ``sf`` is the
scale of the generated base tables (0.1 matches the repository's sf0.1
test data), ``replicas`` the number of disjoint TPC-H copies stacked on
it, and ``files`` the part files per large table (one scan split each).
Between them the workloads reach every module the traced run wraps
(perfbench/spans.py ``MODULES``) and at least one SortMergeJoin.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    queries: tuple[str, ...]
    sf: float
    replicas: int = 1
    files: int = 1


WORKLOADS = {w.name: w for w in (
    Workload(
        "relational_scaled",
        "scans, exchanges and codegen do the work in 3-9 jobs per query, "
        "so plan and execution changes show here and driver round-trip "
        "cuts do not",
        # groupby_agg: operators.groupby; join_q9_product_profit:
        # operators.joins; rolling_range: operators.window; histogram:
        # operators.reductions; join_outer: a full outer join, which is
        # always a SortMergeJoin.
        ("groupby_agg", "join_q9_product_profit", "rolling_range",
         "histogram", "join_outer"),
        sf=0.1, replicas=2, files=4,
    ),
    Workload(
        "iterative",
        "driver loops of many tiny-stage jobs, several crossing the Arrow "
        "boundary, so scheduling, driver round trips and Python workers "
        "dominate",
        # corpus_pagerank: operators.graph; ann_pq: operators.similarity
        # and operators.cluster, over the Arrow boundary; text_repetition:
        # functions.text, over the Arrow boundary; multimodal_framesample:
        # functions.multimodal; embed_quantize: functions.vector;
        # dedup_exact: operators.dedup; loc_label_range: operators.sort.
        # loc_label_range selects a fixed key range, so it runs here and
        # not on relational_scaled, whose key offsets follow the seed.
        # Its job count is 3 or 4 by seed: Spark's range partitioner
        # samples again when the row order leaves its first sample
        # unbalanced.
        ("corpus_pagerank", "ann_pq", "text_repetition",
         "multimodal_framesample", "embed_quantize", "dedup_exact",
         "loc_label_range"),
        sf=0.01,
    ),
)}
