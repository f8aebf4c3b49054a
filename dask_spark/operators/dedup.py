"""Deduplication family.

``drop_duplicates`` mirrors the reference
(dask/dataframe/dask_expr/_collection.py drop_duplicates — hash shuffle
on the subset then per-partition dedup; Spark: dropDuplicates /
min_by-keep-first, same single shuffle).

The near-dup operators (MinHash-LSH, SimHash, n-gram Jaccard,
embedding-cosine) are the 100 TB scale path for LLM corpus dedup:
candidate generation shuffles only (bucket_key → doc ids), verification
joins happen within buckets, and all hashing is JVM-side (xxhash64 /
higher-order array fns). Where Python does sit in the hot path, it is
the one implementation of that operator, chosen by measurement: Arrow
numpy kernels for the all-pairs embedding Gram blocks
(embedding_pairs_exact), the within-cell SemDeDup scan
(semantic_dedup, semantic_keep_exact) and the bloom probe count
(contamination_bloom)."""

from __future__ import annotations

from typing import Sequence

import pyspark.sql.functions as F

from dask_spark.functions.text import shingles, word_tokens


def drop_duplicates(frame, subset: Sequence[str] | None = None, keep="any"):
    """keep="any": Spark dropDuplicates (fastest — partial dedup
    map-side). keep="first"/"last": deterministic via min_by/max_by on a
    tie-break of all remaining columns (Spark has no row order, so
    "first" is defined by the natural sort of the other columns).
    keep=False (pandas): drop EVERY row whose key appears more than
    once — one key-partitioned count + a left-semi join on the same
    keys (co-partitioned, so the second exchange is reused)."""
    from dask_spark.frame import DaskFrame

    sdf = frame._sdf
    if keep is False:
        keys = list(subset) if subset is not None else list(sdf.columns)
        uniq = (
            sdf.groupBy(*keys)
            .agg(F.count(F.lit(1)).alias("__c"))
            .filter(F.col("__c") == 1)
            .select(*[F.col(k).alias(f"__u{i}") for i, k in enumerate(keys)])
        )
        # eqNullSafe: groupBy treats null keys as equal (pandas too),
        # so the semi join must as well or unique null-keyed rows
        # silently vanish through null-unsafe equality
        cond = None
        for i, k in enumerate(keys):
            c = sdf[k].eqNullSafe(uniq[f"__u{i}"])
            cond = c if cond is None else cond & c
        return frame._derive(sdf.join(uniq, cond, "left_semi"))
    if subset is None or keep == "any":
        return frame._derive(sdf.dropDuplicates(subset))
    subset = list(subset)
    others = [c for c in sdf.columns if c not in subset]
    order = F.struct(*[F.col(c) for c in others])
    pick = F.min_by if keep == "first" else F.max_by
    aggs = [pick(F.col(c), order).alias(c) for c in others]
    return frame._derive(sdf.groupBy(*subset).agg(*aggs))


def exact_dedup(frame, text_col: str = "text", id_col: str = "doc_id"):
    """Exact content dedup by 256-bit hash: keep the lowest id per
    distinct content. Single uniform shuffle on sha2 — no skew at any
    scale (hash keys are uniform by construction)."""
    from dask_spark.frame import DaskFrame

    sdf = frame._sdf
    out = (
        sdf.withColumn("__h", F.sha2(F.col(text_col), 256))
        .groupBy("__h")
        .agg(
            F.min(id_col).alias(id_col),
            F.count(F.lit(1)).alias("dup_count"),
        )
        .drop("__h")
    )
    return DaskFrame(out)


_MERSENNE31 = (1 << 31) - 1  # prime modulus for the permutation family


def _minhash_params(num_hashes: int, shingle_k: int, seed: int = 1234):
    """The seeded (a_i, b_i) permutation pairs and gram mixing
    constants — shared by the signature builder AND the SQL oracle
    generator (queries.py) so both replay the identical hash family."""
    import random as _random

    rng = _random.Random(seed)
    params = [
        (rng.randrange(1, _MERSENNE31), rng.randrange(0, _MERSENNE31))
        for _ in range(num_hashes)
    ]
    mix = [rng.randrange(1, _MERSENNE31) for _ in range(shingle_k)]
    return params, mix


def word_hash_expr(w, kind: str = "xxhash64"):
    """Per-word hash → [0, 2^31-1). kind="xxhash64" is the fast JVM
    default; kind="md5" ((first 15 md5 hex chars as int) mod p) costs a
    digest per word but is bit-reproducible in ANY engine with md5 —
    the oracle-checkable mode (DuckDB: ('0x'||substr(md5(w),1,15))::BIGINT)."""
    if kind == "xxhash64":
        return F.pmod(F.xxhash64(w), F.lit(_MERSENNE31))
    if kind == "md5":
        from dask_spark.functions import md5_prefix60

        return F.pmod(md5_prefix60(w), F.lit(_MERSENNE31))
    raise ValueError("word_hash must be xxhash64|md5")


def lsh_tune(num_hashes: int, threshold: float,
             fp_weight: float = 0.5) -> tuple[int, int]:
    """Pick (bands, rows) for a target Jaccard ``threshold`` — the
    datasketch-style parameter search (public): over every factoring
    b*r = num_hashes, minimize the weighted false-positive +
    false-negative probability mass of the S-curve
    P(candidate | s) = 1 - (1 - s^r)^b, integrated numerically below
    and above the threshold. fp_weight trades precision (higher)
    against recall. Feed the result straight into minhash_lsh_pairs /
    contamination_minhash bands=."""
    if not 0.0 < threshold < 1.0:
        raise ValueError("threshold must be in (0, 1)")
    if num_hashes < 2:
        raise ValueError("num_hashes must be >= 2")
    best, best_err = None, None
    steps = 200
    for b in range(1, num_hashes + 1):
        if num_hashes % b:
            continue
        r = num_hashes // b
        fp = fn = 0.0
        for i in range(steps):
            s = (i + 0.5) / steps
            p = 1.0 - (1.0 - s ** r) ** b
            if s < threshold:
                fp += p / steps
            else:
                fn += (1.0 - p) / steps
        err = fp_weight * fp + (1.0 - fp_weight) * fn
        if best_err is None or err < best_err:
            best, best_err = (b, r), err
    return best


def _check_bands(num_hashes: int, bands: int) -> int:
    """rows-per-band guard shared by every banding entry point:
    rows=0 would make every band slice empty (all band hashes equal →
    full cross product); a remainder silently drops hash slots from
    banding (lower recall than requested)."""
    if bands < 1 or num_hashes % bands:
        raise ValueError("bands must divide num_hashes")
    return num_hashes // bands


def minhash_signatures(sdf, text_col: str, id_col: str, num_hashes: int = 64,
                       shingle_k: int = 3, seed: int = 1234,
                       word_hash: str = "xxhash64"):
    """MinHash signature per doc, computed ENTIRELY MAP-SIDE: tokens →
    per-word xxhash64 → k-shingle hashes → ``num_hashes`` ×
    ``array_min`` over the permuted gram hashes, all as in-row array
    expressions. NO shuffle, NO window, NO aggregate — at 100 TB the
    signature stage is pure scan-side work and the first exchange
    anywhere in a dedup pipeline is the banding join's (band, sig, id)
    rows.

    Each stage (tokens, word hashes, gram hashes) is materialized as a
    REAL projected column before the next lambda references it:
    embedding an expression tree inside a higher-order function
    re-evaluates it once per element (the round-3 formulation measured
    ~8× slower for exactly this reason — quadratic re-tokenization,
    not interpretation overhead; with projection barriers the array
    path beats the exploded window+aggregate formulation and drops its
    doc-repartition exchange).

    Hash family as before (Spark MLlib MinHashLSH shape — public):
    gram hash g = Σ_j (h_{i+j}·mix_j mod p) mod p over k consecutive
    word hashes, signature slot i = min((a_i·g+b_i) mod p) with PRIME
    p = 2^31-1; products stay < 2^63 (ANSI-safe). MinHash is
    duplicate-insensitive, so no distinct step is needed. Docs with
    fewer than ``shingle_k`` words yield no signature (same contract
    as the prior formulation)."""
    params, mix = _minhash_params(num_hashes, shingle_k, seed)
    m31 = F.lit(_MERSENNE31)

    toks = F.filter(
        F.split(F.lower(F.col(text_col)), r"\s+"), lambda w: F.length(w) > 0
    )
    # no row filter on token count: a predicate above the projection
    # would be pushed below with the tokenization inlined (recomputed
    # at the scan); short docs instead yield an empty gram array that
    # the explode drops — same no-signature contract.
    staged = sdf.select(id_col, toks.alias("__toks"))
    staged = staged.select(
        id_col,
        F.transform(
            F.col("__toks"), lambda w: word_hash_expr(w, word_hash)
        ).alias("__wh"),
    )
    wh = F.col("__wh")

    def gram(i):
        g = F.pmod(F.element_at(wh, i + 1) * F.lit(mix[0]), m31)
        for j in range(1, shingle_k):
            g = g + F.pmod(F.element_at(wh, i + 1 + j) * F.lit(mix[j]), m31)
        return F.pmod(g, m31)

    # Explode gram hashes and take the 64 minima with CODEGEN
    # aggregates — interpreted array_min(transform(...)) per permutation
    # measured ~40% slower than the JVM hash-agg. Docs are contiguous
    # in their input partition, so the partial aggregate collapses each
    # doc to one 64-long state BEFORE the exchange: the only shuffle
    # here moves 64 longs per doc. The when() guard keeps explode in
    # the SAME select as the transform (see _word_ngrams: a separate
    # array projection lets InferFiltersFromGenerate inline the whole
    # tree below the scan) and protects sequence() from a negative
    # bound (it would silently count DOWN).
    gh = F.when(
        F.size(wh) >= shingle_k,
        F.transform(F.sequence(F.lit(0), F.size(wh) - shingle_k), gram),
    ).otherwise(F.array().cast("array<bigint>"))
    ex = staged.select(id_col, F.explode(gh).alias("__h"))
    aggs = [
        F.min(F.pmod(F.lit(a) * F.col("__h") + F.lit(b), m31)).alias(f"__m{i}")
        for i, (a, b) in enumerate(params)
    ]
    return (
        ex.groupBy(id_col)
        .agg(*aggs)
        .select(
            id_col,
            F.array(*[F.col(f"__m{i}") for i in range(num_hashes)]).alias("minhash"),
        )
    )


def minhash_lsh_pairs(frame, text_col: str = "text", id_col: str = "doc_id",
                      num_hashes: int = 64, bands: int = 16, shingle_k: int = 5,
                      jaccard_threshold: float = 0.6,
                      word_hash: str = "xxhash64"):
    """MinHash + LSH banding near-dup candidate pairs, verified by
    signature-estimated Jaccard.

    Scale shape: docs → signatures (map) → explode to `bands` rows/doc →
    shuffle by (band, band_hash) [bounded fan-out: bands×|docs| rows of
    (key, id, sig)] → per-bucket self-join (buckets are tiny unless data
    is pathological) → distinct pairs → estimate jaccard from signatures.
    This is the standard web-scale dedup pipeline (cf. Spark/Flink LSH
    implementations); everything JVM-side."""
    from dask_spark.frame import DaskFrame

    from dask_spark.operators.sort import _pin

    rows = _check_bands(num_hashes, bands)
    # computed once, read by banding + both pair re-joins; pinned via
    # the bounded FIFO (operators/sort.py) — eviction recomputes the
    # pure signature plan, it never leaks for the app lifetime
    sigs = _pin(minhash_signatures(
        frame._sdf, text_col, id_col, num_hashes, shingle_k,
        word_hash=word_hash,
    ))
    # shuffle only (band_hash, id) — signatures stay out of the wide join
    banded = sigs.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.xxhash64(
                        F.slice(F.col("minhash"), b * rows + 1, rows).cast("string"),
                        F.lit(b),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bh"),
    )
    a, b = banded.alias("a"), banded.alias("b")
    pairs = (
        a.join(b, on=[F.col("a.bh") == F.col("b.bh"),
                      F.col(f"a.{id_col}") < F.col(f"b.{id_col}")])
        .select(F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    sa = sigs.select(F.col(id_col).alias("id_a"), F.col("minhash").alias("mh_a"))
    sb = sigs.select(F.col(id_col).alias("id_b"), F.col("minhash").alias("mh_b"))
    pairs = pairs.join(sa, "id_a").join(sb, "id_b")
    # estimated jaccard = fraction of equal minhash slots
    eq = F.aggregate(
        F.zip_with("mh_a", "mh_b", lambda x, y: F.when(x == y, 1).otherwise(0)),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    out = (
        pairs.withColumn("jaccard_est", eq / F.lit(num_hashes))
        .filter(F.col("jaccard_est") >= jaccard_threshold)
        .select("id_a", "id_b", "jaccard_est")
    )
    return DaskFrame(out)


def simhash(frame, text_col: str = "text", id_col: str = "doc_id", bits: int = 64,
            word_hash: str = "xxhash64"):
    """SimHash over word tokens, fully codegen: explode words →
    word hash → ``bits`` per-bit vote SUMs in one hash aggregate
    (map-side partial — shuffle state is ``bits`` longs/doc), then fold
    votes back into one word. Array-HOF formulations are interpreted
    and re-evaluate the tokenization per element, measured ~10× slower.
    Emitted with 4 sub-bands (width bits/4) for hamming-bucketing (docs
    within hamming distance 3 share ≥1 band — standard simhash dedup
    recall trick). Empty docs hash to 0 (kept via left join).

    word_hash="xxhash64": 64-bit JVM fast path (default).
    word_hash="md5": 60-bit engine-portable hash (first 15 md5 hex
    chars) — every stage replicable in plain SQL, so the whole
    approximate pipeline is oracle-checkable; use bits=60."""
    from dask_spark.frame import DaskFrame

    if word_hash == "md5" and bits > 60:
        raise ValueError("md5 word hash carries 60 bits — pass bits<=60")
    if bits % 4 != 0:
        # 4 bands must cover EVERY bit or the hamming<=3 -> shared-band
        # recall guarantee silently breaks for diffs in uncovered bits
        raise ValueError("bits must be divisible by 4 (band coverage)")
    masks = [(1 << i) if i < 63 else -(1 << 63) for i in range(bits)]
    words = frame._sdf.select(
        id_col, F.explode(F.split(F.lower(text_col), r"\s+")).alias("w")
    ).filter(F.length("w") > 0)
    from dask_spark.functions import md5_prefix60

    h = F.xxhash64("w") if word_hash == "xxhash64" else md5_prefix60("w")
    votes = [
        F.sum(
            F.when(h.bitwiseAND(F.lit(m).cast("bigint")) != 0, 1).otherwise(-1)
        ).alias(f"__v{i}")
        for i, m in enumerate(masks)
    ]
    agg = words.groupBy(id_col).agg(*votes)
    sim = None
    for i, m in enumerate(masks):
        term = F.when(F.col(f"__v{i}") > 0, F.lit(m).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )
        sim = term if sim is None else sim + term
    hashed = agg.select(id_col, sim.alias("simhash"))
    out = (
        frame._sdf.select(id_col)
        .join(hashed, on=id_col, how="left")
        .fillna({"simhash": 0})
    )
    width = bits // 4
    for band in range(4):
        out = out.withColumn(
            f"band{band}",
            F.shiftrightunsigned(F.col("simhash"), band * width)
            .bitwiseAND(F.lit((1 << width) - 1)),
        )
    return DaskFrame(out)


def simhash_pairs(frame, text_col: str = "text", id_col: str = "doc_id",
                  max_hamming: int = 3, bits: int = 64,
                  word_hash: str = "xxhash64"):
    """Candidate pairs sharing a simhash band (width bits/4), verified
    by exact hamming distance ≤ max_hamming (bit_count of xor)."""
    from dask_spark.frame import DaskFrame

    from dask_spark.operators.sort import _pin

    # pin: the self-join's two branches would otherwise recompute the
    # 64-aggregate signature plan twice (bounded FIFO, no app-lifetime
    # cache leak; eviction recomputes the pure plan)
    sh = _pin(simhash(frame, text_col, id_col, bits, word_hash)._sdf)
    # single long bucket key (band index folded into the value) — one
    # join key column instead of two
    width = bits // 4
    banded = sh.select(
        id_col, "simhash",
        F.explode(F.array(*[
            (F.lit(b * (1 << width)) + F.col(f"band{b}")).cast("bigint")
            for b in range(4)
        ])).alias("bh"),
    )
    a, b = banded.alias("a"), banded.alias("b")
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    # hamming filter FUSED into the join output stage: on homogeneous
    # corpora simhash buckets are large (similar docs share bands by
    # design), so candidates must be cut to survivors BEFORE any
    # further shuffle — deduping 24M raw candidates first measured ~8×
    # slower at 50k docs than filtering them in-stage to ~300k.
    pairs = (
        a.join(b, on=[F.col("a.bh") == F.col("b.bh"),
                      F.col(f"a.{id_col}") < F.col(f"b.{id_col}")])
        .filter(ham <= max_hamming)
        .select(F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"),
                ham.alias("hamming"))
        .dropDuplicates(["id_a", "id_b"])
    )
    return DaskFrame(pairs)


def ngram_jaccard_pairs(frame, text_col: str = "text", id_col: str = "doc_id",
                        n: int = 3, threshold: float = 0.5):
    """EXACT n-gram (word) Jaccard similarity join via prefix filtering
    (the PPJoin-family algorithm — public literature): identical output
    to the all-pairs quadratic join, at inverted-index cost.

    Any pair with J ≥ t and gram counts (na, nb) must share at least
    one gram among each side's first ``|g| - ⌈t·|g|⌉ + 1`` grams when
    both gram sets are sorted by one global order. Sorting rarest-first
    (ascending document frequency) keeps stop-grams out of every
    prefix, which is what kills the d² blowup on common grams — the
    earlier stop-gram-cap approach both leaked d≈cap quadratic pairs
    AND silently dropped true pairs made of common grams only.

    Shuffle shape at scale: grams are built MAP-SIDE per doc
    (_word_ngram_arrays — no word-level exchange, no per-doc window,
    no dedup shuffle; distinct-by-construction). The inverted index
    carries (id, n_grams, gram) straight out of the explode — no
    doc-keyed annotate join. Exchanges on the gram stream: gram-df agg
    (by gram), df-annotate join (reuses that gram partitioning),
    rarest-first prefix window (by doc), candidate self-join (by rare
    gram, bounded d²); then slim pairs fetch each side's gram array by
    one id-equi-join for the exact array_intersect verify."""
    from pyspark.sql import Window

    from dask_spark.frame import DaskFrame

    sdf = frame._sdf
    # no size>0 filter here: a predicate above the gram projection gets
    # pushed below the exchange with the whole gram expression inlined
    # (see _word_ngrams); empty-gram docs are harmless — explode drops
    # them and every downstream join is inner
    from dask_spark.operators.sort import _pin

    docs = _pin(
        _word_ngram_arrays(sdf, text_col, id_col, n)
        .select(id_col, "grams", F.size("grams").alias("n_grams"))
    )
    inv0 = docs.select(id_col, "n_grams", F.explode("grams").alias("g"))
    g_df = inv0.groupBy("g").agg(F.count(F.lit(1)).alias("df"))
    ranked = inv0.join(g_df, on="g").withColumn(
        "pos",
        F.row_number().over(
            Window.partitionBy(id_col).orderBy(F.col("df").asc(), F.col("g").asc())
        ),
    )
    prefix_len = F.col("n_grams") - F.ceil(F.lit(threshold) * F.col("n_grams")) + 1
    prefix = ranked.filter(F.col("pos") <= prefix_len).select(
        id_col, "g", "pos", "n_grams"
    )
    a, b = prefix.alias("a"), prefix.alias("b")
    # PPJoin positional + length filters (exact — they only drop pairs
    # that provably cannot reach the required overlap α = ⌈t/(1+t)·
    # (na+nb)⌉): a match at sorted positions (pa, pb) leaves at most
    # min(na-pa, nb-pb)+1 shared grams, and J ≥ t forces t·nb ≤ na.
    # The 1e-9 slack keeps exact float boundaries from over-pruning.
    na, nb = F.col("a.n_grams"), F.col("b.n_grams")
    alpha = F.ceil(
        F.lit(threshold / (1.0 + threshold)) * (na + nb) - F.lit(1e-9)
    )
    cands = (
        a.join(b, on=[
            F.col("a.g") == F.col("b.g"),
            F.col(f"a.{id_col}") < F.col(f"b.{id_col}"),
            na >= F.lit(threshold) * nb - F.lit(1e-9),
            nb >= F.lit(threshold) * na - F.lit(1e-9),
            F.least(na - F.col("a.pos"), nb - F.col("b.pos")) + 1 >= alpha,
        ])
        .select(F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    da = docs.select(F.col(id_col).alias("id_a"), F.col("grams").alias("ga"),
                     F.col("n_grams").alias("na"))
    db = docs.select(F.col(id_col).alias("id_b"), F.col("grams").alias("gb"),
                     F.col("n_grams").alias("nb"))
    verified = cands.join(da, "id_a").join(db, "id_b").withColumn(
        "inter", F.size(F.array_intersect("ga", "gb"))
    )
    jac = F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter"))
    return DaskFrame(
        verified.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def embedding_dedup_pairs(frame, vec_col: str = "embedding",
                          id_col: str = "vec_id", threshold: float = 0.95,
                          planes: int = 6, bands: int = 8, seed: int = 7):
    """Embedding near-dup, the 100 TB scale path: BANDED
    random-hyperplane LSH — ``bands`` independent hash tables of
    ``planes`` bits each (OR-amplified: recall for a pair at angle θ is
    1-(1-(1-θ/π)^planes)^bands, e.g. ≈0.97 for cos≥0.8 with 8×6) →
    per-bucket candidate pairs → exact cosine verify. The corpus never
    self-joins — only same-bucket candidates do; shuffle volume is
    bands×|corpus| rows of (bucket, sig, id).

    Signatures are computed by ONE Arrow-batched numpy matmul for all
    bands×planes hyperplanes (lsh_band_signature_udf) — the interpreted
    higher-order-fn formulation re-evaluated the dot per element and
    measured ~70s at sf0.01; the matmul path is single-digit seconds
    with identical bucketing (same hyperplanes, same bit order).

    The candidate shuffle is IDS-ONLY: the band self-join carries
    (band, sig, id) — never the vector — pairs are deduped while still
    slim (a pair sharing m bands pays ONE cosine, not m), and each
    side's vector is fetched by exactly one id-equi-join before the
    exact verify. At dim=1024 float64 the vector is ~8 KB/row; keeping
    it out of the bands×|corpus| exchange is the difference between a
    TB-scale and a GB-scale shuffle at 100 TB."""
    from dask_spark.frame import DaskFrame
    from dask_spark.functions.vector import cosine_sim, lsh_band_signature_udf

    sdf = frame._sdf
    # dim probe: one row. Empty corpus -> any dim works (zero rows flow
    # through to an empty pair set with the right schema).
    row = sdf.select(vec_col).first()
    dim = len(row[0]) if row is not None and row[0] is not None else 1
    sig_udf = lsh_band_signature_udf(dim, planes, bands, seed)
    keyed = sdf.select(
        id_col, F.posexplode(sig_udf(F.col(vec_col))).alias("band", "sig")
    )
    a, b = keyed.alias("a"), keyed.alias("b")
    slim = (
        a.join(b, on=[F.col("a.band") == F.col("b.band"),
                      F.col("a.sig") == F.col("b.sig"),
                      F.col(f"a.{id_col}") < F.col(f"b.{id_col}")])
        .select(F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    vecs = sdf.select(id_col, vec_col)
    va = vecs.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va"))
    vb = vecs.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb"))
    pairs = (
        slim.join(va, "id_a").join(vb, "id_b")
        .select("id_a", "id_b",
                cosine_sim(F.col("__va"), F.col("__vb")).alias("cosine"))
    )
    return DaskFrame(
        pairs.filter(F.col("cosine") >= threshold).select("id_a", "id_b", "cosine")
    )


def embedding_pairs_exact(frame, vec_col: str = "embedding",
                          id_col: str = "vec_id", threshold: float = 0.4,
                          block_size: int = 2048):
    """EXACT all-pairs cosine above threshold — the oracle-checkable
    twin of ``embedding_dedup_pairs``. O(n²) comparisons: use only on
    small or pre-blocked sets (at 100 TB, run it per LSH bucket /
    IVF cell; the LSH variant above is the scale path). Cosine is
    rounded to 6 dp so the threshold cut is reproducible across
    engines. Returns (id_a, id_b, cosine) with id_a < id_b; a zero
    vector scores cosine 0 against everything.

    BLOCK-PAIR Gram kernel: ids hash into ~n/block_size blocks, each
    (bi ≤ bj) block pair computes ONE numpy Va·Vbᵀ matmul instead of
    |a|·|b| interpreted per-pair cosines (the join shuffles B² packed
    rows, not n² pairs). Against the expression nested-loop join it
    replaced: 0.68 s vs 8.28 s at sf0.01 (4 cores, median of 6)."""
    from dask_spark.frame import DaskFrame

    sdf = frame._sdf.select(id_col, vec_col)
    n = sdf.count()  # driver scalar — the documented O(n²)-tool contract
    n_blocks = max(1, -(-n // block_size))
    packed = (
        sdf.withColumn("__b", F.pmod(F.xxhash64(F.col(id_col)), n_blocks))
        .groupBy("__b")
        .agg(
            F.collect_list(F.struct(F.col(id_col).alias("i"),
                                    F.col(vec_col).alias("v"))).alias("items")
        )
    )
    a, b = packed.alias("a"), packed.alias("b")
    joined = a.join(b, F.col("a.__b") <= F.col("b.__b")).select(
        F.col("a.__b").alias("__ba"), F.col("b.__b").alias("__bb"),
        F.col("a.items").alias("__ia"), F.col("b.items").alias("__ib"),
    )
    id_dt = dict(sdf.dtypes)[id_col]

    def gen(batches):
        import numpy as _np
        import pandas as _pd

        for pdf in batches:
            for ba, bb, ia, ib in zip(
                pdf["__ba"], pdf["__bb"], pdf["__ia"], pdf["__ib"]
            ):
                ids_a = [r["i"] for r in ia]
                ids_b = [r["i"] for r in ib]
                Va = _np.asarray([_np.asarray(r["v"], dtype="float64") for r in ia])
                Vb = _np.asarray([_np.asarray(r["v"], dtype="float64") for r in ib])
                na = _np.linalg.norm(Va, axis=1)
                nb = _np.linalg.norm(Vb, axis=1)
                na[na == 0] = 1.0
                nb[nb == 0] = 1.0
                C = _np.round((Va @ Vb.T) / _np.outer(na, nb), 6)
                ii, jj = _np.nonzero(C >= threshold)
                same = ba == bb
                rows = []
                for i, j in zip(ii, jj):
                    if same and i >= j:
                        # one list on both sides: upper triangle only
                        continue
                    if ids_a[i] == ids_b[j]:
                        # duplicate id values: pairs are strictly
                        # id_a < id_b, so (id, id) is never emitted
                        continue
                    # order the ids (cross-block pairs meet exactly
                    # once, on whichever side the lower id landed)
                    lo, hi = sorted((ids_a[i], ids_b[j]))
                    rows.append((lo, hi, float(C[i, j])))
                if rows:
                    yield _pd.DataFrame(rows, columns=["id_a", "id_b", "cosine"])

    out = joined.mapInPandas(
        gen, f"id_a {id_dt}, id_b {id_dt}, cosine double"
    )
    return DaskFrame(out)


def _word_ngram_arrays(sdf, text_col: str, id_col: str, n: int,
                       out: str = "grams"):
    """DISTINCT word n-grams per doc as an ARRAY column, built ENTIRELY
    map-side with array expressions — tokens never leave their row, so
    there is no shuffle, no window, and no Expand anywhere in the gram
    path (the earlier posexplode → lead-window formulation shuffled
    every word of the corpus on the doc id; at 100 TB that exchange
    dwarfs anything the grams feed).

    Docs shorter than n words emit ONE gram of all their words — so
    short docs are still visible to contamination()/jaccard instead of
    silently unflaggable. Empty docs get an empty array (explode drops
    them).

    The one exchange left is a COMPACT-doc repartition on the id —
    whole rows, pre-explosion — purely to spread the gram build across
    cores when the source arrives in few splits (small local files); a
    real 100 TB scan already has thousands of splits and AQE keeps the
    shuffle trivial relative to the text itself."""
    # Tokenize into a REAL projected column before the gram lambda:
    # referencing the split() expression tree inside transform() would
    # re-tokenize the doc once per gram position (quadratic per doc —
    # measured 3× slower); a column reference inside the lambda is one
    # array read, and CollapseProject keeps multi-use non-cheap
    # projections separate.
    staged = _tokens_staged(sdf, text_col, id_col)
    return staged.select(
        id_col, F.array_distinct(_gram_expr(F.col("__toks"), n)).alias(out)
    )


def _tokens_staged(sdf, text_col: str, id_col: str):
    """(id, __toks) with a compact-doc repartition — see
    _word_ngram_arrays for why tokens must be a real column."""
    return sdf.repartition(F.col(id_col)).select(
        id_col,
        F.filter(
            F.split(F.lower(F.col(text_col)), r"\s+"),
            lambda w: F.length(w) > 0,
        ).alias("__toks"),
    )


def _gram_expr(toks, n: int):
    sz = F.size(toks)
    return (
        F.when(sz == 0, F.array().cast("array<string>"))
        .when(sz < n, F.array(F.array_join(toks, " ")))
        .otherwise(
            F.transform(
                F.sequence(F.lit(0), sz - n),
                lambda i: F.array_join(F.slice(toks, i + 1, n), " "),
            )
        )
    )


def _word_ngrams(sdf, text_col: str, id_col: str, n: int):
    """Exploded (id, gram) rows, distinct per doc — the gram build and
    the explode stay in ONE select: a separate grams-column projection
    lets InferFiltersFromGenerate push its `size(e)>0` guard below the
    exchange with the whole gram expression tree inlined (twice, on
    raw text, barrier-free) — measured 6× slower than this shape."""
    staged = _tokens_staged(sdf, text_col, id_col)
    return staged.select(
        id_col,
        F.explode(F.array_distinct(_gram_expr(F.col("__toks"), n))).alias("gram"),
    )


def contamination(corpus, benchmark, text_col: str = "text",
                  id_col: str = "doc_id", ngram: int = 3,
                  threshold: float = 0.5):
    """Benchmark-contamination check (training-data hygiene: flag
    corpus documents whose word n-grams overlap an evaluation set —
    the decontamination step of large-corpus pipelines; no dask
    analog, brief-mandated extension class).

    Scale shape: the benchmark gram set is DISTINCT'd and broadcast
    (eval suites are tiny next to a 100 TB corpus); corpus grams are
    deduped per doc IN-ROW (array_distinct, no shuffle), stream
    through a map-side broadcast-hash membership probe, then ONE
    groupBy(doc) of plain counts — already distinct, so no
    countDistinct Expand, and the partial aggregate collapses each
    doc to one row before the exchange (docs never split across input
    partitions). The contamination cut compares integers (2·hits ≥
    total for τ=0.5-style thresholds) so no float ratio can straddle
    engines.

    Returns (id, total_grams, hit_grams, contaminated)."""
    from fractions import Fraction

    from dask_spark.frame import DaskFrame

    frac = Fraction(threshold).limit_denominator(10**6)
    bench = _word_ngrams(
        benchmark._sdf, text_col, id_col, ngram
    ).select("gram").distinct().withColumn("__hit", F.lit(1))
    grams = _word_ngrams(corpus._sdf, text_col, id_col, ngram)
    probed = grams.join(F.broadcast(bench), on="gram", how="left")
    per_doc = probed.groupBy(id_col).agg(
        F.count("gram").alias("total_grams"),
        F.count("__hit").alias("hit_grams"),
    )
    contaminated = (
        per_doc["hit_grams"] * F.lit(frac.denominator)
        >= per_doc["total_grams"] * F.lit(frac.numerator)
    )
    return DaskFrame(per_doc.withColumn("contaminated", contaminated))


def contamination_minhash(corpus, benchmark, text_col: str = "text",
                          id_col: str = "doc_id", num_hashes: int = 32,
                          bands: int = 8, shingle_k: int = 5,
                          jaccard_threshold: float = 0.25,
                          word_hash: str = "xxhash64"):
    """FUZZY benchmark decontamination: flag corpus docs whose
    MinHash-estimated Jaccard against ANY benchmark doc reaches the
    threshold — catches paraphrased / truncated / lightly-edited eval
    leakage that the exact n-gram overlap (:func:`contamination`) and
    bloom variants miss. The cross-frame twin of
    :func:`minhash_lsh_pairs`.

    Scale shape: both sides run the map-side signature pipeline
    (minhash_signatures — zero shuffle before banding); the benchmark
    side is an eval suite (thousands of docs), so its banded rows AND
    its signatures BROADCAST — the corpus explodes its band hashes
    map-side into a broadcast-hash join and never shuffles its text.
    The only exchanges carry candidate pairs: one groupBy(corpus doc)
    for the best match, one join back for the min-id tie-break —
    both bounded by the contamination rate, not the corpus.

    jaccard_est is quantized to 1/num_hashes (num_hashes a power of
    two keeps the division exact), and the best-match tie-break is
    min benchmark id at the max estimate — fully deterministic, so
    the md5 word-hash mode is oracle-replayable end to end.

    Returns (id, match_id, jaccard_est) for flagged corpus docs."""
    from dask_spark.frame import DaskFrame

    from dask_spark.operators.sort import _pin

    rows = _check_bands(num_hashes, bands)
    # the corpus signatures feed banding + the pair re-join: pin via
    # the bounded FIFO so the cache is reclaimed instead of living for
    # the application lifetime. The benchmark side is broadcast-sized
    # (an eval suite) — recomputing its signature plan for the second
    # read is cheaper than holding executor cache for it.
    sig_c = _pin(minhash_signatures(
        corpus._sdf, text_col, id_col, num_hashes, shingle_k,
        word_hash=word_hash,
    ))
    sig_b = minhash_signatures(
        benchmark._sdf, text_col, id_col, num_hashes, shingle_k,
        word_hash=word_hash,
    )

    def banded(sigs, out_id):
        return sigs.select(
            F.col(id_col).alias(out_id),
            F.explode(
                F.array(
                    *[
                        F.xxhash64(
                            F.slice(
                                F.col("minhash"), b * rows + 1, rows
                            ).cast("string"),
                            F.lit(b),
                        )
                        for b in range(bands)
                    ]
                )
            ).alias("bh"),
        )

    cand = (
        banded(sig_c, "__cid")
        .join(F.broadcast(banded(sig_b, "__bid")), "bh")
        .select("__cid", "__bid")
        .dropDuplicates(["__cid", "__bid"])
    )
    pairs = cand.join(
        sig_c.select(F.col(id_col).alias("__cid"),
                     F.col("minhash").alias("__mc")), "__cid"
    ).join(
        F.broadcast(
            sig_b.select(F.col(id_col).alias("__bid"),
                         F.col("minhash").alias("__mb"))
        ),
        "__bid",
    )
    eq = F.aggregate(
        F.zip_with("__mc", "__mb",
                   lambda x, y: F.when(x == y, 1).otherwise(0)),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    scored = pairs.select(
        "__cid", "__bid", (eq / F.lit(num_hashes)).alias("__j")
    ).filter(F.col("__j") >= F.lit(jaccard_threshold))
    # best match in ONE aggregate: min_by over (-j, bid) is "min bid
    # among the max-j rows" — (cid, bid) pairs are distinct so the
    # struct order has no ties and the pick is deterministic
    out = (
        scored.groupBy(F.col("__cid").alias(id_col))
        .agg(
            F.max("__j").alias("jaccard_est"),
            F.min_by(
                "__bid",
                F.struct(
                    (-F.col("__j")).alias("nj"), F.col("__bid").alias("b")
                ),
            ).alias("match_id"),
        )
        .select(id_col, "match_id", "jaccard_est")
    )
    return DaskFrame(out)


def _star_round(edges, large: bool):
    """One large-star / small-star step over a directed-pair edge set
    (public algorithm: Kiveris et al., "Connected Components in
    MapReduce and Beyond", SoCC'14). ``edges`` holds each surviving
    undirected edge once as (src, dst); the step symmetrizes, computes
    m(u) = min(Γ(u) ∪ {u}) with one groupBy, and re-links:

    - large-star: every neighbor v > u links to m(u)
    - small-star: every neighbor v <= u, and u itself, link to m(u)

    r16 (guide §2.4 "two operations keyed the same way can share one
    exchange"): m(u) used to be a groupBy(src) aggregate joined back
    onto sym — an extra exchange + join per star round, ~14 AQE
    query-stage jobs per convergence round. It is now ONE window
    min over the same src partitioning, attached in place; the
    small-star's per-node (u, m(u)) links come from a groupBy(src)
    ON TOP of the window output, which reuses its HashPartitioning —
    no second exchange — and the two union branches share the one
    exchange via ReusedExchange. Self loops are dropped; distinct()
    keeps the edge set from ballooning."""
    from pyspark.sql import Window

    sym = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    w = Window.partitionBy("src")
    sym = sym.withColumn(
        "m", F.least(F.min("dst").over(w), F.col("src"))
    )
    if large:
        out = sym.filter(F.col("dst") > F.col("src")).select(
            F.col("dst").alias("src"), F.col("m").alias("dst")
        )
    else:
        mins = sym.groupBy("src").agg(F.min("m").alias("m"))
        out = sym.filter(F.col("dst") <= F.col("src")).select(
            F.col("dst").alias("src"), F.col("m").alias("dst")
        ).unionByName(mins.select("src", F.col("m").alias("dst")))
    return out.filter(F.col("src") != F.col("dst")).distinct()


def _cc_star(edges, max_iter: int = 50):
    """Pointer-doubling connected components: alternate large-star /
    small-star until the edge set is stable. Converges in O(log d)
    rounds on a diameter-d graph (vs O(d) for label propagation) —
    the scale path for adversarially deep near-dup chains. Each round
    is two windowed star steps plus ONE tiny driver action (count +
    hash-checksum of the edge set) for the convergence test.

    Returns (labels_sdf, rounds): labels maps every node that appears
    in ``edges`` to its component min.

    Lineage is truncated each round with a lazy localCheckpoint —
    without it the logical plan doubles per round (each star step
    embeds both prior steps) and Catalyst analysis time alone goes
    exponential by round ~10; checkpointing keeps every round's plan
    two joins deep.

    r16, measured dead end kept OUT: running the signature every 2nd
    round (with a consecutive-round confirmation before exit) was
    tried and REVERTED — the convergence test then overshoots by 2-3
    post-convergence rounds whose distributed star steps cost far
    more than the saved sub-100ms driver actions (73 AQE jobs / 6.0s
    vs 63 / 5.3s at sf0.1). The per-round signature stays."""
    prev_sig = None
    rounds = 0
    for _ in range(max_iter):
        rounds += 1
        # eager=False: the signature aggregate below materializes the
        # round — one driver job per round instead of two
        edges = _star_round(
            _star_round(edges, large=True), large=False
        ).localCheckpoint(eager=False)
        # bit_xor: order-insensitive, overflow-free (ANSI sum over 64-bit
        # hashes throws); edge set is distinct so XOR cancellation is safe
        sig = tuple(
            edges.agg(
                F.count(F.lit(1)), F.bit_xor(F.xxhash64("src", "dst"))
            ).first()
        )
        if sig == prev_sig:
            break
        prev_sig = sig
    else:
        raise ValueError(
            f"star components did not converge in max_iter={max_iter} "
            "rounds — raise max_iter (rounds needed ≈ log2(diameter))"
        )
    # converged: edges form stars (child -> root). Root nodes appear
    # only as dst; every node labels itself min(Γ⁺).
    sym = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    labels = (
        sym.groupBy("src")
        .agg(F.min("dst").alias("component"))
        .select(
            F.col("src").alias("id"),
            F.least("component", "src").alias("component"),
        )
    )
    return labels, rounds


def _cc_driver(base, id_a: str, id_b: str):
    """Vectorized driver-side connected components over a SMALL edge
    list (the caller gates on edge count): hash-to-min label sweeps +
    pointer jumping in numpy — O(E) per round, O(log d) rounds, all
    C-speed. Node codes are assigned in SORTED id order so the min
    CODE in a component is the min ORIGINAL id, matching the
    distributed paths bit-for-bit."""
    import numpy as np
    import pandas as pd

    pdf = base.toPandas()
    ids = pd.concat([pdf[id_a], pdf[id_b]], ignore_index=True)
    codes, uniq = pd.factorize(ids, sort=True)
    n = len(uniq)
    a, b = codes[: len(pdf)], codes[len(pdf):]
    keep = a != b
    a, b = a[keep], b[keep]
    label = np.arange(n, dtype="int64")
    while True:
        old = label.copy()
        np.minimum.at(label, b, label[a])
        np.minimum.at(label, a, label[b])
        label = np.minimum(label, label[label])  # pointer jump
        if np.array_equal(old, label):
            break
    # resolve to roots (pointer jumping may leave 1-step chains)
    while True:
        nxt = label[label]
        if np.array_equal(nxt, label):
            break
        label = nxt
    return pd.DataFrame({"id": uniq, "component": uniq[label]})


def connected_components(pairs, id_a: str = "id_a", id_b: str = "id_b",
                         max_iter: int = 50, algorithm: str = "label",
                         driver_edges: int = 2_000_000):
    """Cluster near-dup pairs into components (the canonicalization
    step after pair verification in a dedup pipeline — pick one doc
    per component; dask has no analog, brief-mandated extension
    class).

    algorithm="label" (default): min-label propagation over the
    symmetrized edge list — each round is one shuffle join (labels ⋈
    edges) + a min aggregate, then a TINY count action for the
    convergence check; rounds ≈ component diameter, and near-dup
    clusters are shallow (a handful of hops). Each round's labels are
    lazily localCheckpointed so lineage stays bounded on deep graphs
    (persist alone nests the logical plan one level per round —
    ~30-round graphs OOMed the driver); the trade is that a lost
    block mid-loop fails the job instead of recomputing, same as the
    star path.

    BOTH algorithms raise ValueError when ``max_iter`` rounds pass
    without convergence — stale labels are wrong components, never
    returned silently. Size rounds from the diameter: label needs
    ≈ diameter rounds, star ≈ log2(diameter).

    algorithm="star": pointer-doubling via alternating large-star /
    small-star rounds (_cc_star) — O(log d) rounds, the scale path
    for deep graphs where label propagation would need diameter many
    shuffles.

    Why label stays the DEFAULT: near-dup graphs are shallow (a
    near-dup cluster's diameter is a handful of hops), where label
    propagation's one join per round beats star's two joins + edge
    churn per round — measured 9.6s vs 49.2s end-to-end on the
    sf0.1 canonicalize query. Star wins only when diameter is large
    (adversarial chains), which a caller who built such a graph
    knows; at toy scale both pay a per-round driver-action floor
    that amortizes away with data size.

    Size gate: the pair list is orders of magnitude smaller than the
    corpus (bounded by the near-dup rate), and BOTH distributed
    algorithms pay a per-round job floor that dwarfs the actual work
    on small graphs. When the edge count (one action over the input,
    which round 1 would materialize anyway) is ≤ ``driver_edges``
    (default 2M ≈ tens of MB), components run DRIVER-SIDE as
    vectorized numpy hash-to-min + pointer jumping — identical
    min-id components, ~ms instead of seconds. Pass driver_edges=0
    to force the distributed path. Above the gate the distributed
    label/star machinery runs unchanged — the 100 TB shape is intact.

    Returns (id, component) for every id that appears in a NULL-FREE
    pair; component = the smallest id in the component (deterministic,
    identical for all paths). Pairs with a null endpoint carry no
    linkage information and are dropped up front (pandas drops NaN
    group keys the same way) — pd.factorize would otherwise code a
    null as -1, which wraps to the LAST node in the driver kernel and
    silently fuses unrelated components."""
    from dask_spark.frame import DaskFrame
    from dask_spark.operators.sort import _pin

    if algorithm not in ("label", "star"):
        raise ValueError("algorithm must be label|star")
    base = _pin(
        pairs._sdf.select(id_a, id_b)
        .filter(F.col(id_a).isNotNull() & F.col(id_b).isNotNull())
    )
    if base.count() <= driver_edges:
        out_pdf = _cc_driver(base, id_a, id_b)
        from pyspark.sql import types as T

        dt = base.schema[0].dataType
        schema = T.StructType(
            [T.StructField("id", dt), T.StructField("component", dt)]
        )
        spark = pairs._sdf.sparkSession
        sdf = spark.createDataFrame(out_pdf, schema)
        return DaskFrame(sdf)
    if algorithm == "star":
        edges0 = (
            base.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
            .filter(F.col("src") != F.col("dst"))
            .distinct()
        )
        labels, _ = _cc_star(edges0, max_iter)
        nodes = (
            base.select(F.col(id_a).alias("id"))
            .unionByName(base.select(F.col(id_b).alias("id")))
            .distinct()
        )
        full = nodes.join(labels, "id", "left").select(
            "id", F.coalesce("component", "id").alias("component")
        )
        return DaskFrame(full)
    edges = (
        base.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .unionByName(
            base.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst"))
        )
        .persist()
    )
    # seed each node at min(id, min neighbor) instead of id — the
    # first propagation round is folded into initialization, so
    # shallow graphs (the near-dup norm) converge one driver-action
    # round earlier
    labels = (
        edges.groupBy("src")
        .agg(F.min("dst").alias("component"))
        .select(
            F.col("src").alias("id"),
            F.least("component", "src").alias("component"),
        )
        .persist()
    )
    # convergence check: under min-propagation labels only ever
    # DECREASE, so for INTEGRAL ids an exact decimal label-sum is a
    # strict monotone — "sum unchanged" ⇔ "no label changed", one
    # tiny agg per round instead of a labels⋈new_labels diff join.
    # Fractional/decimal ids would ROUND inside the decimal(38,0)
    # cast (a changed round could keep the sum constant and exit
    # early with wrong components), so they keep the generic
    # diff-join check along with non-numeric ids.
    from pyspark.sql import types as T

    numeric = isinstance(
        labels.schema["component"].dataType,
        (T.ByteType, T.ShortType, T.IntegerType, T.LongType),
    )

    def _label_sum(df):
        return df.agg(
            F.sum(F.col("component").cast("decimal(38,0)")).alias("s")
        ).first()["s"]

    prev_sum = _label_sum(labels) if numeric else None
    for _ in range(max_iter):
        prop = edges.join(
            labels.withColumnRenamed("id", "src"), "src"
        ).select(F.col("dst").alias("id"), "component")
        # localCheckpoint, not persist: persist keeps the LOGICAL plan
        # nesting one level per round, and a deep-diameter graph (many
        # rounds) blows Catalyst analysis up until the driver OOMs
        # just formatting the tree (observed at ~30 rounds on a
        # 920-edge chain graph). Checkpointing truncates lineage the
        # same way _cc_star already does. eager=False: the convergence
        # action below materializes the round, keeping ONE job per
        # round. Trade-offs, both deliberate: (a) truncated lineage
        # cannot recompute a lost block — executor loss mid-loop fails
        # the job instead of silently recomputing (same contract as
        # _cc_star); (b) checkpoint blocks are released by the
        # ContextCleaner/GC, not by the unpersist below (which only
        # frees the round-1 persisted seed) — labels are id+component
        # rows, so the lingering copies are tiny.
        new_labels = (
            labels.unionByName(prop)
            .groupBy("id")
            .agg(F.min("component").alias("component"))
            .localCheckpoint(eager=False)
        )
        if numeric:
            new_sum = _label_sum(new_labels)
            changed = new_sum != prev_sum
            prev_sum = new_sum
        else:
            changed = (
                labels.withColumnRenamed("component", "__old")
                .join(new_labels, "id")
                .filter(F.col("__old") != F.col("component"))
                .count()
            ) > 0
        labels.unpersist()
        labels = new_labels
        if not changed:
            break
    else:
        edges.unpersist()
        raise ValueError(
            f"label components did not converge in max_iter={max_iter} "
            "rounds (rounds needed ≈ component diameter) — raise "
            "max_iter or use algorithm='star' (O(log diameter))"
        )
    edges.unpersist()
    return DaskFrame(labels)


def canonicalize(docs, pairs, id_col: str = "doc_id",
                 quality_col: str = "n_chars", id_a: str = "id_a",
                 id_b: str = "id_b", algorithm: str = "label",
                 max_iter: int = 50, driver_edges: int = 2_000_000):
    """Pick ONE keeper per near-dup component — the member with the
    highest ``quality_col`` (smallest id on ties) — the
    canonicalization step that turns verified near-dup pairs into an
    actual dedup decision (reference scope: dask has no analog;
    brief-mandated dedup-pipeline extension).

    Returns (id_col, component, keeper_id, is_keeper) for every doc
    that appears in a pair; filter ``~is_keeper`` to get the drop list.

    100 TB shape: connected components runs on the PAIR list (orders of
    magnitude smaller than the corpus); the corpus joins that label set
    once (inner — untouched docs never enter), then keeper selection is
    one max_by agg on component and a component-keyed join that reuses
    the agg's hash partitioning. The full corpus is never shuffled —
    only cluster members."""
    from dask_spark.frame import DaskFrame

    comps = connected_components(
        pairs, id_a, id_b, max_iter=max_iter, algorithm=algorithm,
        driver_edges=driver_edges,
    )._sdf
    d = docs._sdf if isinstance(docs, DaskFrame) else docs
    labeled = d.join(
        comps, d[id_col] == comps["id"], "inner"
    ).select(d[id_col], d[quality_col], comps["component"])
    keepers = labeled.groupBy("component").agg(
        F.max_by(
            F.col(id_col),
            F.struct(
                F.col(quality_col).alias("q"), (-F.col(id_col)).alias("nid")
            ),
        ).alias("keeper_id")
    )
    out = labeled.join(keepers, "component").select(
        F.col(id_col),
        "component",
        "keeper_id",
        (F.col(id_col) == F.col("keeper_id")).alias("is_keeper"),
    )
    return DaskFrame(out)


def semantic_dedup(frame, vec_col: str = "embedding", id_col: str = "vec_id",
                   n_clusters: int = 16, threshold: float = 0.95,
                   centroids=None):
    """SemDeDup-shape semantic deduplication (Abbas et al. 2023,
    public): cluster the embedding space, then within each cluster
    drop every point whose cosine to a LOWER-id member exceeds
    ``threshold`` (the greedy keep-first rule). Composition of the
    engine's own pieces — kmeans_centroids (deterministic driver
    sample, k×dim literals) + assign_clusters (map-only argmin) + a
    per-cluster pairwise verify.

    Returns (id, cluster, keep) for every input row.

    100 TB shape: ONE shuffle keyed by cluster id; the pairwise stage
    is O(m²) per cluster, which is the SemDeDup contract — pick
    n_clusters so m ≈ N/k stays in the 1e3–1e5 band (the paper uses
    ~100k clusters at web scale), and AQE skew-join splits any
    overgrown cell. Unlike the banded-LSH path (embedding_dedup_pairs,
    recall-bounded), this is exhaustive WITHIN cells and deliberately
    blind across them."""
    from dask_spark.frame import DaskFrame
    from dask_spark.operators.similarity import (
        assign_clusters,
        kmeans_centroids,
    )

    if centroids is None:
        centroids = kmeans_centroids(frame, vec_col, n_clusters)
    assigned = assign_clusters(frame, centroids, vec_col)._sdf.select(
        F.col(id_col), F.col(vec_col), F.col("cluster")
    )
    # Vectorized within-cell kernel: applyInPandas per cluster — one
    # Gram matmul (V·Vᵀ) and a lower-triangle scan replace m²/2
    # interpreted per-pair cosines of a cluster-keyed self-join
    # (1.02 s vs 2.76 s at sf0.01, 4 cores; identical greedy rule,
    # BLAS dot == the parity replay's dot)
    def per_cell(pdf):
        import numpy as _np
        import pandas as _pd

        order = _np.argsort(pdf[id_col].to_numpy(), kind="stable")
        pdf = pdf.iloc[order]
        V = _np.asarray(
            [_np.asarray(v, dtype="float64") for v in pdf[vec_col]]
        )
        n = _np.linalg.norm(V, axis=1)
        n[n == 0] = 1.0
        C = (V @ V.T) / _np.outer(n, n)
        drop = (_np.tril(C, -1) >= threshold).any(axis=1)
        return _pd.DataFrame(
            {
                id_col: pdf[id_col].to_numpy(),
                "cluster": pdf["cluster"].to_numpy(),
                "keep": ~drop,
            }
        )

    id_dt = dict(assigned.dtypes)[id_col]
    out = assigned.groupBy("cluster").applyInPandas(
        per_cell, f"{id_col} {id_dt}, cluster int, keep boolean"
    )
    return DaskFrame(out)


def semantic_keep_exact(sdf, id_col: str = "vec_id", vec_col: str = "v",
                        cluster_col: str = "cluster",
                        threshold: float = 0.9):
    """Within-cell greedy keep with BIT-EXACT expression-engine
    arithmetic, as ONE cluster-keyed applyInPandas kernel.

    Replaces the m²-row self-join (a.cluster = b.cluster AND
    a.id > b.id, filter dot*inv_a*inv_b >= t) that materialized every
    candidate pair — with its two d-double arrays — through an
    exchange. Here the only exchange carries the m input rows per
    cell; the Gram matrix lives entirely inside the Arrow batch.

    Arithmetic contract (what the DuckDB oracle replays):
      dot(a,b) = a0*b0 + a1*b1 + ...   (left-to-right, dims in order)
      inv      = 1.0 / sqrt(dot(v,v))
      score    = (dot(a,b) * inv_a) * inv_b
      drop(a)  = any b with b.id < a.id and score >= threshold
    The kernel accumulates the Gram matrix one dim-outer-product at a
    time — D += outer(V[:,i], V[:,i]) in dim order — so every element
    follows the identical scalar L2R chain (first term unseeded, like
    functions.vector.dot's unrolled form), and diag(D) IS the ordered
    self-dot the inverse norm needs. IEEE doubles therefore agree
    exactly with the unrolled codegen expression the oracle mirrors,
    including decisions at the threshold boundary.

    100 TB shape: one shuffle keyed by cluster; O(m²) doubles per cell
    in kernel memory — the SemDeDup contract (pick n_clusters so
    m ≈ N/k stays ~1e3-1e5; the paper runs ~100k cells at web scale).
    """
    import numpy as _np
    import pandas as _pd

    id_dt = dict(sdf.dtypes)[id_col]

    def per_cell(pdf):
        order = _np.argsort(pdf[id_col].to_numpy(), kind="stable")
        pdf = pdf.iloc[order]
        V = _np.asarray(
            [_np.asarray(v, dtype="float64") for v in pdf[vec_col]]
        )
        m, d = V.shape
        D = _np.multiply.outer(V[:, 0], V[:, 0])
        for i in range(1, d):  # ordered accumulation, dim order
            D = D + _np.multiply.outer(V[:, i], V[:, i])
        inv = 1.0 / _np.sqrt(_np.diag(D))
        S = (D * inv[:, None]) * inv[None, :]  # (dot*inv_a)*inv_b
        drop = (_np.tril(S, -1) >= threshold).any(axis=1)
        return _pd.DataFrame(
            {
                id_col: pdf[id_col].to_numpy(),
                cluster_col: pdf[cluster_col].to_numpy(),
                "keep": ~drop,
            }
        )

    return sdf.groupBy(cluster_col).applyInPandas(
        per_cell, f"{id_col} {id_dt}, {cluster_col} int, keep boolean"
    )


def span_dedup(frame, text_col: str = "text", id_col: str = "doc_id",
               span_tokens: int = 8, max_count: int = 1):
    """CCNet-style duplicated-span removal (Wenzek et al. 2020's
    paragraph dedup, re-shaped for span granularity): split every
    document into consecutive non-overlapping ``span_tokens``-token
    spans, count each span corpus-wide, strip spans occurring more
    than ``max_count`` times, and reassemble the surviving text in
    original order. The boilerplate/duplicated-content scrub a
    training pipeline runs before near-dup detection (no dask analog,
    brief-mandated extension class).

    Scale shape (100 TB): the span build is in-row (tokens never leave
    their row); the exploded spans shuffle ONCE into a map-side-
    combined ``groupBy(span).count()`` whose output is filtered to the
    duplicated set — normally a tiny fraction of the corpus, so the
    LEFT ANTI join back is broadcastable (AQE decides); the reassembly
    is one groupBy(doc) of already-compact (pos, span) rows. A
    hyper-duplicated span ("click here to subscribe" × 10⁹) is safe:
    counting happens in the partial aggregate, never a window, so the
    skewed key collapses map-side.

    Returns (id, kept_text, n_spans, n_removed) — documents whose
    every span was stripped stay in the output with empty text, so the
    corpus row count is stable through the scrub."""
    from dask_spark.frame import DaskFrame

    sdf = frame._sdf if hasattr(frame, "_sdf") else frame
    staged = _tokens_staged(sdf, text_col, id_col)
    s = F.lit(int(span_tokens))
    n_spans = F.ceil(F.size("__toks") / s).cast("int")
    # explode the span POSITIONS and build each span string with plain
    # slice+array_join per exploded row — codegen-able expressions; a
    # transform()-built array posexploded keeps the build inside an
    # interpreted HOF under the Generate (same finding as
    # substring_dedup: measured ~4× on the window build)
    pos_arr = F.when(
        F.size("__toks") == 0, F.array().cast("array<int>")
    ).otherwise(F.sequence(F.lit(0), n_spans - 1))
    docs = staged.select(id_col, "__toks", n_spans.alias("__n_spans"))
    spans = docs.select(
        id_col, "__toks", F.explode(pos_arr).alias("__pos")
    ).select(
        id_col, "__pos",
        F.array_join(
            F.slice("__toks", F.col("__pos") * s + 1, s), " "
        ).alias("__span"),
    )
    dup = (
        spans.groupBy("__span")
        .agg(F.count(F.lit(1)).alias("__cnt"))
        .filter(F.col("__cnt") > int(max_count))
        .select("__span")
    )
    kept = spans.join(dup, on="__span", how="left_anti")
    ka = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__pos", "__span"))),
                lambda x: x["__span"],
            ),
            " ",
        ).alias("kept_text"),
        F.count(F.lit(1)).alias("__n_kept"),
    )
    out = (
        docs.select(id_col, F.col("__n_spans").alias("n_spans"))
        .join(ka, on=id_col, how="left")
        .select(
            id_col,
            F.coalesce(F.col("kept_text"), F.lit("")).alias("kept_text"),
            F.col("n_spans").cast("bigint").alias("n_spans"),
            (F.col("n_spans") - F.coalesce(F.col("__n_kept"), F.lit(0)))
            .cast("bigint").alias("n_removed"),
        )
    )
    return DaskFrame(out)


def substring_dedup(frame, text_col: str = "text", id_col: str = "doc_id",
                    window_tokens: int = 8, max_count: int = 1,
                    window_hash: str = "text", keep: str = "all"):
    """Alignment-free duplicated-substring scrub — the distributed
    window formulation of ExactSubstr dedup (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better";
    reference scope: dask has no analog, brief-mandated extension).
    :func:`span_dedup` (CCNet) counts NON-overlapping aligned spans,
    so a duplicate passage shifted by one token escapes it; here every
    STRIDE-1 window of ``window_tokens`` tokens is counted, which is
    exactly the suffix-array guarantee at window granularity: any
    duplicated token run of length ≥ w contains a duplicated w-window
    at every offset, so the full run is detected and removed no matter
    how the copies are aligned.

    Pipeline: in-row sliding windows (tokens never leave their row) →
    ONE map-side-combined ``groupBy(window).count()`` → duplicated
    positions per doc (ids+pos exchange, bounded by the dup rate) →
    gaps-and-islands merge into MAXIMAL duplicated spans (per-doc
    window functions over the few duplicated positions) → spans
    aggregate to one array per doc → in-row token filter (a (t, i)
    HOF against the span array) rebuilds the text. A hyper-duplicated
    window collapses in the partial aggregate, never a window
    function, so skew is map-side like span_dedup's.

    ``window_hash``: "text" counts the raw window string — every stage
    replicable in ANSI SQL (the oracle mode). "xxhash64" counts the
    64-bit hash instead, shrinking the count-shuffle payload from
    w words to 8 bytes per window — the production mode at scale
    (collision odds ~n²/2⁶⁵, the standard engineering trade).

    ``keep``: "all" (default) strips every occurrence of a duplicated
    window (the CCNet-style scrub); "one" keeps the CANONICAL
    occurrence — the globally first (min doc id, then min position) —
    and strips the rest, which is Lee et al.'s actual dedup contract
    (at least one copy of any passage survives the corpus). The
    canonical pick is one min-struct in the same count aggregate; the
    exchange shape is unchanged.

    Returns (id, kept_text, n_tokens, n_removed) — docs shorter than
    one window pass through untouched, fully-duplicated docs stay as
    empty-text rows, so corpus row count is stable through the scrub.
    """
    from pyspark.sql import Window

    from dask_spark.frame import DaskFrame

    if window_hash not in ("text", "xxhash64"):
        raise ValueError("window_hash must be text|xxhash64")
    if keep not in ("all", "one"):
        raise ValueError("keep must be all|one")
    sdf = frame._sdf if hasattr(frame, "_sdf") else frame
    w = int(window_tokens)
    staged = _tokens_staged(sdf, text_col, id_col)
    sz = F.size("__toks")
    # explode the window POSITIONS, then build each window string with
    # plain slice+array_join per exploded row — regular codegen-able
    # expressions. (Building an array<string> of windows with a
    # transform() lambda and posexploding it keeps the whole build
    # inside an interpreted HOF under the Generate — measured 11.7s vs
    # 0.7s for the 235k windows of sf0.1.)
    pos_arr = F.when(
        sz < w, F.array().cast("array<int>")
    ).otherwise(F.sequence(F.lit(0), sz - w))
    docs = staged.select(id_col, "__toks")
    wtext = F.array_join(F.slice("__toks", F.col("__pos") + 1, w), " ")
    key = F.xxhash64(wtext) if window_hash == "xxhash64" else wtext
    from dask_spark.operators.sort import _pin

    # ex feeds BOTH the duplicate-count aggregate and the position
    # join-back: pin it (bounded FIFO) so the tokenize+explode window
    # build — the dominant map stage — runs once, not twice (measured
    # 3.5s → 2.0s warm at sf0.1; eviction recomputes the pure plan)
    ex = _pin(
        staged.select(id_col, "__toks", F.explode(pos_arr).alias("__pos"))
        .select(id_col, "__pos", key.alias("__wk"))
    )
    aggs = [F.count(F.lit(1)).alias("__cnt")]
    if keep == "one":
        aggs.append(
            F.min(F.struct(F.col(id_col).alias("i"),
                           F.col("__pos").alias("p"))).alias("__can")
        )
    dup = (
        ex.groupBy("__wk")
        .agg(*aggs)
        .filter(F.col("__cnt") > int(max_count))
        .drop("__cnt")
    )
    dpos = ex.join(dup, on="__wk")
    if keep == "one":
        # the canonical (first) occurrence keeps its windows
        dpos = dpos.filter(
            ~((F.col(id_col) == F.col("__can.i"))
              & (F.col("__pos") == F.col("__can.p")))
        )
    dpos = dpos.select(id_col, "__pos")
    # gaps-and-islands: a window starts a new maximal span when its
    # start clears the running max end of everything before it
    ws = Window.partitionBy(id_col).orderBy("__pos")
    prev_end = F.max(F.col("__pos") + w).over(
        ws.rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = dpos.withColumn(
        "__brk",
        F.when(
            prev_end.isNull() | (F.col("__pos") > prev_end), 1
        ).otherwise(0),
    ).withColumn(
        "__isl",
        F.sum("__brk").over(ws.rowsBetween(Window.unboundedPreceding, 0)),
    )
    spans = (
        flagged.groupBy(id_col, "__isl")
        .agg(
            F.min("__pos").cast("bigint").alias("s"),
            (F.max("__pos") + w).cast("bigint").alias("e"),
        )
        .groupBy(id_col)
        .agg(F.array_sort(F.collect_list(F.struct("s", "e"))).alias("__spans"))
    )
    joined = docs.select(id_col, "__toks").join(spans, on=id_col, how="left")
    sp = F.coalesce(
        F.col("__spans"),
        F.array().cast("array<struct<s:bigint,e:bigint>>"),
    )
    # token scrub by GAP SLICING, not a per-token filter: the spans are
    # sorted and disjoint, so the kept text is the concatenation of the
    # token slices BETWEEN them — gap starts are (0, e_1, …, e_k), gap
    # ends are (s_1, …, s_k, n). Every lambda here runs once per SPAN
    # (a handful per doc); slice/flatten/array_join stay JVM built-ins.
    # (A filter(toks, (t, i) -> !exists(spans, …)) formulation runs the
    # interpreted exists per TOKEN — measured 13.5s vs ~1s at sf0.1.)
    n_l = F.size("__toks").cast("bigint")
    gap_starts = F.concat(
        F.array(F.lit(0).cast("bigint")),
        F.transform(sp, lambda x: x["e"]),
    )
    gap_ends = F.concat(F.transform(sp, lambda x: x["s"]), F.array(n_l))
    kept = F.flatten(
        F.zip_with(
            gap_starts, gap_ends,
            lambda a, b: F.slice(
                F.col("__toks"), (a + 1).cast("int"), (b - a).cast("int")
            ),
        )
    )
    # n_removed from the span lengths (disjoint ⇒ sum of e-s), so the
    # kept array is evaluated exactly once in the final projection
    removed = F.coalesce(
        F.aggregate(
            sp, F.lit(0).cast("bigint"),
            lambda acc, x: acc + (x["e"] - x["s"]),
        ),
        F.lit(0).cast("bigint"),
    )
    out = joined.select(
        F.col(id_col),
        F.array_join(kept, " ").alias("kept_text"),
        F.size("__toks").cast("bigint").alias("n_tokens"),
        removed.alias("n_removed"),
    )
    return DaskFrame(out)


def _bloom_hash_pair(gram, hash_kind: str):
    """[h1, h2] base hashes for one gram — the Kirsch–Mitzenmacher
    layout: all k bloom positions derive as (h1 + j*(h2|1)) mod m from
    ONE digest (forcing h2 odd keeps the j-positions distinct for
    power-of-two m and preserves the asymptotic false-positive rate).
    The previous layout paid k independent md5 digests per distinct
    gram, which made contamination_bloom the most expensive bench
    query (6.0s at sf0.1 ≈ 20% of the 32-query total).

    hash_kind="md5": h1 = md5 hex chars 1-15, h2 = chars 16-30 — the
    engine-portable mode the DuckDB oracle replays verbatim.
    hash_kind="xxhash64": h1/h2 split from one JVM xxhash64 — the
    production mode (dedup_minhash's word_hash pattern).

    Build and probe BOTH derive (h1, h2) from _bloom_digest/_bloom_h1/
    _bloom_h2 — one shared formula, so the two sides cannot silently
    diverge (the no-false-negative contract rests on build positions
    == probe positions)."""
    d = _bloom_digest(gram, hash_kind)
    return F.array(_bloom_h1(d, hash_kind), _bloom_h2(d, hash_kind))


def _bloom_digest(gram, hash_kind: str):
    """One digest column per gram — the single hash every bloom
    position derives from."""
    if hash_kind == "md5":
        return F.md5(gram)
    if hash_kind == "xxhash64":
        return F.xxhash64(gram)
    raise ValueError("hash_kind must be xxhash64|md5")


def _bloom_h1(digest, hash_kind: str):
    if hash_kind == "md5":
        return F.conv(F.substring(digest, 1, 15), 16, 10).cast("bigint")
    return F.shiftrightunsigned(digest, 33)


def _bloom_h2(digest, hash_kind: str):
    if hash_kind == "md5":
        return F.conv(F.substring(digest, 16, 15), 16, 10).cast("bigint")
    return digest.bitwiseAND(F.lit(0x7FFFFFFF)).cast("bigint")


def _bloom_positions_from_pair(pair, k: int, m_bits: int):
    """The k probe positions for one [h1, h2] pair. h1 and h2|1 are
    pre-reduced mod m before the j*h2 combination — mathematically
    identical positions ((a mod m + j*(b mod m)) mod m == (a + j*b)
    mod m), but every intermediate stays < k*m: the raw md5-mode
    h1/h2 are 60-bit, so j*(h2|1) overflowed int64 for k >= 9 and
    ANSI mode raised while the numpy kernel wrapped silently."""
    m = F.lit(int(m_bits))
    h1 = F.pmod(pair.getItem(0), m)
    h2 = F.pmod(pair.getItem(1).bitwiseOR(F.lit(1)), m)
    return [
        F.pmod(h1 + j * h2, m).cast("int")
        for j in range(k)
    ]


def _bloom_hits_udf(words: list[int], k: int, m_bits: int):
    """Vectorized bloom probe: per-row count of grams whose k
    Kirsch–Mitzenmacher positions are all set. Pure int64 numpy —
    bit-identical to the same bit-tests as Catalyst expressions (no
    floats anywhere), one flat pass per Arrow batch instead of ~30
    interpreted expression nodes per probe (that expression probe
    filter alone was ~3.7s of the 6.0s sf0.1 bench time). Closure
    state is the m_bits/64 signed words — a few hundred bytes riding
    the task like any plan literal."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    wordsarr = np.array(words, dtype=np.int64)
    kk, mb = int(k), int(m_bits)

    def bloom_hits(h1s, h2s):
        n = len(h1s)
        lens = np.fromiter((len(a) for a in h1s), dtype=np.int64, count=n)
        total = int(lens.sum())
        if total == 0:
            return pd.Series(np.zeros(n, dtype=np.int64))
        f1 = np.concatenate(
            [np.asarray(a, dtype=np.int64) for a in h1s if len(a)]
        )
        f2 = np.concatenate(
            [np.asarray(a, dtype=np.int64) for a in h2s if len(a)]
        ) | 1
        # same mod-m pre-reduction as _bloom_positions_from_pair: the
        # raw 60-bit md5 pair made j*f2 wrap int64 for k >= 9 here
        # while Catalyst arithmetic raises under ANSI mode
        f1 = f1 % mb
        f2 = f2 % mb
        hit = np.ones(total, dtype=bool)
        for j in range(kk):
            p = (f1 + j * f2) % mb
            # arithmetic >> on signed words keeps the low bits intact
            hit &= ((wordsarr[p >> 6] >> (p & 63)) & 1).astype(bool)
        cs = np.concatenate([[0], np.cumsum(hit.astype(np.int64))])
        ends = np.cumsum(lens)
        return pd.Series(cs[ends] - cs[ends - lens])

    # annotations set as objects: module-wide `from __future__ import
    # annotations` stringifies hints, which pandas_udf can't resolve
    bloom_hits.__annotations__ = {
        "h1s": pd.Series, "h2s": pd.Series, "return": pd.Series,
    }
    return pandas_udf("bigint")(bloom_hits)


def contamination_bloom(corpus, benchmark, text_col: str = "text",
                        id_col: str = "doc_id", ngram: int = 3,
                        m_bits: int = 4096, k: int = 3,
                        threshold: float = 0.5,
                        hash_kind: str = "md5"):
    """Bloom-filter decontamination: like ``contamination`` but the
    benchmark gram set is compressed into a CONSTANT-SIZE bit array
    before probing. ``contamination`` broadcasts the eval grams as a
    hash relation — right when the eval suite is small; at the scale
    where the blocklist itself is huge (every eval suite ever
    published, a competitor-corpus blocklist), the broadcast grows
    with it. The bloom filter bounds the shipped state at ``m_bits``
    REGARDLESS of blocklist size, trading a bounded false-positive
    rate (~(1-e^(-kn/m))^k, one-sided: no false negatives) for that
    constant.

    Scale shape (100 TB): the build is one distinct-positions job
    whose driver collect is bounded by m_bits (a few KB, never by the
    blocklist); the probe is ENTIRELY in-row — per-doc distinct grams
    as an array, k bit-tests per gram against the m_bits/64 bit words,
    counted by one scalar Arrow UDF — zero exchanges end to end, the
    plan is scan → project → ArrowEvalPython. Compare: the exact path
    shuffles every doc's grams through a groupBy(doc).

    Returns (id, total_grams, hit_grams, contaminated); hit_grams
    counts bloom-POSITIVE grams (superset of true hits). Docs with no
    grams (empty text) are dropped, matching ``contamination``.

    ``hash_kind``: "md5" (default) is the engine-portable mode the
    DuckDB oracle replays; "xxhash64" is the production mode (one JVM
    hash, no digest — dedup_minhash's word_hash pattern). Either way
    the k probe positions are Kirsch–Mitzenmacher-derived from ONE
    digest: pos_j = (h1 + j*(h2|1)) mod m.

    The probes are counted by a vectorized numpy kernel over the
    JVM-staged (h1, h2) arrays: pure int64 arithmetic, bit-identical to
    the same k bit-tests written as Catalyst expressions (pinned in
    tests/test_llm_ops.py against such a reference probe). Against that
    expression probe, run inside an interpreted HOF lambda: 2.21 s vs
    2.76 s (md5) and 1.30 s vs 1.72 s (xxhash64) at sf0.1; at sf0.01
    the expression probe was ~0.15 s faster (4 cores, median of 6)."""
    from fractions import Fraction

    from dask_spark.frame import DaskFrame

    frac = Fraction(threshold).limit_denominator(10**6)
    bench_sdf = benchmark._sdf if hasattr(benchmark, "_sdf") else benchmark
    corpus_sdf = corpus._sdf if hasattr(corpus, "_sdf") else corpus

    bench_grams = _word_ngrams(bench_sdf, text_col, id_col, ngram)
    bench_pair = _bloom_hash_pair(F.col("gram"), hash_kind)
    pos_rows = (
        bench_grams.select(
            F.explode(
                F.array(*_bloom_positions_from_pair(bench_pair, k, m_bits))
            ).alias("p")
        )
        .distinct()
        .collect()  # bounded by m_bits — constant, never blocklist-sized
    )
    words = [0] * ((m_bits + 63) // 64)
    for r in pos_rows:
        p = int(r["p"])
        words[p // 64] |= 1 << (p % 64)
    # two's-complement fold into the kernel's signed 64-bit words
    words = [w - (1 << 64) if w >= (1 << 63) else w for w in words]
    # Drop gram-less docs on a CHEAP text predicate BEFORE the gram
    # build. The natural filter — size(grams) > 0 AFTER staging — gets
    # predicate-pushed below the projection with the gram expression
    # substituted into the condition, so the whole tokenize+gram
    # pipeline re-evaluates inside the Filter node (and again for
    # every later size(grams) reference): measured 3.99s for
    # filter+sizes vs 1.16s for the staged build itself at sf0.1.
    # text RLIKE \S is exactly equivalent (any non-whitespace char →
    # ≥1 token → ≥1 gram; null/blank text → dropped) and reaches the
    # parquet scan as a data filter.
    live = corpus_sdf.filter(F.col(text_col).rlike(r"\S"))
    # Stage the digest per gram as ARRAY DATA (a transform's output is
    # materialized, so the digest is computed exactly once per gram —
    # an expression reused inside the h1/h2 lambdas would re-evaluate
    # per use: interpreted HOF eval does no subexpression reuse);
    # __digs is used by BOTH h1/h2 transforms and grams by BOTH __ng
    # and __digs, and CollapseProject keeps twice-referenced non-cheap
    # projections staged.
    grams = _word_ngram_arrays(live, text_col, id_col, ngram)
    staged = grams.select(
        id_col,
        F.size("grams").cast("bigint").alias("__ng"),
        F.transform(
            F.col("grams"), lambda g: _bloom_digest(g, hash_kind)
        ).alias("__digs"),
    )
    # probe (h1, h2) come from the SAME per-digest helpers the build
    # side uses (_bloom_hash_pair) — one formula, no silent divergence
    h1s = F.transform(F.col("__digs"), lambda d: _bloom_h1(d, hash_kind))
    h2s = F.transform(F.col("__digs"), lambda d: _bloom_h2(d, hash_kind))

    hits = _bloom_hits_udf(words, k, m_bits)(h1s, h2s)
    per_doc = staged.select(
        id_col,
        F.col("__ng").alias("total_grams"),
        hits.cast("bigint").alias("hit_grams"),
    )
    contaminated = (
        per_doc["hit_grams"] * F.lit(frac.denominator)
        >= per_doc["total_grams"] * F.lit(frac.numerator)
    )
    return DaskFrame(per_doc.withColumn("contaminated", contaminated))


def fuzzy_name_pairs(frame, name_col: str, max_distance: int = 4,
                     min_count: int = 1):
    """Entity-resolution candidate pairs by edit distance →
    DaskFrame(name_a, name_b, distance, count_a, count_b) with
    name_a < name_b — the record-linkage step (Fellegi–Sunter
    blocking heritage) that catches typo'd vendor/product/author
    variants exact dedup misses.

    Scale-correct shape: the quadratic work runs over the DISTINCT
    NAME TABLE, never the rows — names dedupe map-side with their
    multiplicities (a 100 TB catalog has ~1e6 distinct names, 1e-6×
    the rows), then a BLOCKED self-join (block = last whitespace
    token, the head noun; standard blocking trades recall across
    blocks for tractability) with the exactness-preserving length
    filter |len_a − len_b| <= d pruning before the O(len²) DP
    levenshtein evaluates. Both engines implement classic edit
    distance, so every surviving pair is replayable."""
    from dask_spark.frame import DaskFrame

    sdf = frame._sdf if isinstance(frame, DaskFrame) else frame
    d = int(max_distance)
    if d < 0:
        raise ValueError(f"max_distance must be >= 0, got {d}")
    names = (
        sdf.filter(F.col(name_col).isNotNull())
        .groupBy(F.col(name_col).alias("name"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .filter(F.col("cnt") >= int(min_count))
        .withColumn("blk", F.substring_index(F.col("name"), " ", -1))
    )
    a = names.select(F.col("name").alias("name_a"),
                     F.col("cnt").alias("count_a"), "blk")
    b = names.select(F.col("name").alias("name_b"),
                     F.col("cnt").alias("count_b"), "blk")
    pairs = (
        a.join(b, "blk")
        .filter(F.col("name_a") < F.col("name_b"))
        .filter(
            F.abs(F.length("name_a") - F.length("name_b")) <= F.lit(d)
        )
        .withColumn("distance",
                    F.levenshtein(F.col("name_a"), F.col("name_b")))
        .filter(F.col("distance") <= F.lit(d))
    )
    return DaskFrame(pairs.select(
        "name_a", "name_b", "distance", "count_a", "count_b"
    ))


def incremental_dedup(batch, corpus, text_col: str = "text",
                      id_col: str = "doc_id"):
    """Ingest-time exact dedup of a NEW batch against an EXISTING
    corpus → the batch rows that survive: content-hash
    (sha2-256) left-anti join against the corpus hash set, plus
    within-batch keep-first (min id per hash) — the delta-ingestion
    twin of dedup_exact for continuously-growing corpora (recompute
    nothing over the old data; at 100 TB the corpus side is a
    HASH-ONLY projection, pushed down to two columns, and the
    exchange carries the batch + corpus digests, never text).

    Returns the surviving batch rows with their ``content_hash``."""
    from dask_spark.frame import DaskFrame

    b = batch._sdf if isinstance(batch, DaskFrame) else batch
    c = corpus._sdf if isinstance(corpus, DaskFrame) else corpus
    h = F.sha2(F.col(text_col).cast("string"), 256)
    bh = b.withColumn("content_hash", h)
    ch = c.select(h.alias("content_hash")).distinct()
    fresh = bh.join(ch, "content_hash", "left_anti")
    keep = fresh.groupBy("content_hash").agg(
        F.min(F.col(id_col)).alias("__keep")
    )
    out = (
        fresh.join(keep, "content_hash")
        .filter(F.col(id_col) == F.col("__keep"))
        .drop("__keep")
    )
    return DaskFrame(out)


def snapshot_diff(old, new, id_col: str = "doc_id",
                  content_col: str = "text"):
    """Dataset-version reconciliation → DaskFrame(status, n) with
    status ∈ added/removed/changed/unchanged — the diff report every
    versioned-corpus release pipeline prints ("what moved between
    snapshot A and B") without ever comparing content bytes across
    the wire: each side reduces to (id, sha2-256) map-side, the FULL
    OUTER id join compares digests, and the status counts collapse
    into a 4-key aggregate. Exchange = 2×(id, 32-byte digest), never
    content."""
    from dask_spark.frame import DaskFrame

    o = old._sdf if isinstance(old, DaskFrame) else old
    n = new._sdf if isinstance(new, DaskFrame) else new
    h = F.sha2(F.col(content_col).cast("string"), 256)
    oh = o.filter(F.col(id_col).isNotNull()).select(
        F.col(id_col).alias("__id"), h.alias("__ho")
    )
    nh = n.filter(F.col(id_col).isNotNull()).select(
        F.col(id_col).alias("__id"), h.alias("__hn")
    )
    j = oh.join(nh, "__id", "full_outer")
    status = (
        F.when(F.col("__ho").isNull(), F.lit("added"))
        .when(F.col("__hn").isNull(), F.lit("removed"))
        .when(F.col("__ho") == F.col("__hn"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    out = j.select(status.alias("status")).groupBy("status").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    return DaskFrame(out)
