"""LLM-pipeline extensions: dedup, similarity search, text analysis,
multimodal plumbing — verified on small synthetic corpora with Python
oracles (exact cosine / Jaccard / hamming)."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pytest


@pytest.fixture(scope="module")
def corpus(spark):
    import dask_spark as ds

    base = (
        "the quick brown fox jumps over the lazy dog and runs far away "
        "into the deep green forest tonight"
    )
    rows = [
        ("d1", base),
        ("d2", base),  # exact dup of d1
        ("d3", base.replace("tonight", "today")),  # near dup of d1
        ("d4", "completely different text about stock markets and interest rates going up"),
        ("d5", "der schnelle braune fuchs springt und der hund ist sehr faul heute"),
    ]
    return ds.from_pandas(pd.DataFrame(rows, columns=["doc_id", "text"]))


@pytest.fixture(scope="module")
def vectors(spark):
    import dask_spark as ds

    rng = np.random.RandomState(0)
    vecs = rng.randn(50, 8)
    vecs[1] = vecs[0] + 0.001  # near-dup pair
    pdf = pd.DataFrame(
        {"vec_id": [f"v{i}" for i in range(50)], "embedding": [v.tolist() for v in vecs]}
    )
    return pdf, ds.from_pandas(pdf)


def test_exact_dedup(corpus):
    from dask_spark.operators.dedup import exact_dedup

    out = exact_dedup(corpus).compute()
    assert len(out) == 4  # d1==d2 collapse
    dup = out[out.dup_count == 2]
    assert len(dup) == 1 and dup.doc_id.iloc[0] == "d1"  # keeps min id


def test_minhash_lsh_pairs(corpus):
    from dask_spark.operators.dedup import minhash_lsh_pairs

    out = minhash_lsh_pairs(corpus, jaccard_threshold=0.5).compute()
    got = set(map(tuple, out[["id_a", "id_b"]].values))
    assert ("d1", "d2") in got  # exact dup: jaccard_est == 1
    assert ("d1", "d3") in got and ("d2", "d3") in got  # near dup
    assert not any("d4" in p for p in got)
    exact = out[(out.id_a == "d1") & (out.id_b == "d2")]
    assert exact.jaccard_est.iloc[0] == 1.0


def test_minhash_signature_deterministic(corpus):
    from dask_spark.operators.dedup import minhash_signatures

    s1 = minhash_signatures(corpus._sdf, "text", "doc_id").toPandas()
    s2 = minhash_signatures(corpus._sdf, "text", "doc_id").toPandas()
    m1 = {r.doc_id: r.minhash for r in s1.itertuples()}
    m2 = {r.doc_id: r.minhash for r in s2.itertuples()}
    assert all(list(m1[k]) == list(m2[k]) for k in m1)
    assert list(m1["d1"]) == list(m1["d2"])  # identical docs → identical sig


def test_simhash_pairs(corpus):
    from dask_spark.operators.dedup import simhash_pairs

    out = simhash_pairs(corpus).compute()
    got = set(map(tuple, out[["id_a", "id_b"]].values))
    assert ("d1", "d2") in got
    assert out[(out.id_a == "d1") & (out.id_b == "d2")].hamming.iloc[0] == 0


def test_ngram_jaccard_exact_values(corpus):
    from dask_spark.operators.dedup import ngram_jaccard_pairs

    out = ngram_jaccard_pairs(corpus, n=3, threshold=0.3).compute()
    row = out[(out.id_a == "d1") & (out.id_b == "d3")]
    # python oracle: distinct word-trigram jaccard
    def tri(s):
        w = s.lower().split()
        return {" ".join(w[i : i + 3]) for i in range(len(w) - 2)}

    base = (
        "the quick brown fox jumps over the lazy dog and runs far away "
        "into the deep green forest tonight"
    )
    a, b = tri(base), tri(base.replace("tonight", "today"))
    want = len(a & b) / len(a | b)
    assert row.jaccard.iloc[0] == pytest.approx(want, abs=1e-6)


def test_embedding_dedup(vectors):
    from dask_spark.operators.dedup import embedding_dedup_pairs

    _, f = vectors
    out = embedding_dedup_pairs(f, threshold=0.99).compute()
    got = set(map(tuple, out[["id_a", "id_b"]].values))
    assert ("v0", "v1") in got


@pytest.mark.smoke
def test_embedding_pairs_exact_matches_brute_force(spark):
    """embedding_pairs_exact's block-pair Gram kernel, split over many
    blocks (block_size=3), must emit exactly the pairs of a numpy
    brute-force replay over every pair of rows with id_a < id_b and
    cosine rounded to 6 dp: a duplicated id never pairs with itself
    but pairs with every other row once per copy, a zero vector
    scores 0, and a pair exactly at the threshold is kept."""
    import dask_spark as ds
    from dask_spark.operators.dedup import embedding_pairs_exact

    rng = np.random.RandomState(11)
    V = rng.randn(12, 4)
    V[1] = V[0] * 2.0 + 1e-4          # near-duplicate of row 0
    V[2] = [0.0, 0.0, 0.0, 0.0]       # zero vector
    V[3] = [1.0, 0.0, 0.0, 0.0]
    V[4] = [0.6, 0.8, 0.0, 0.0]       # cosine(3, 4) == 0.6 exactly
    V[6] = V[5] + 1e-3                # near-duplicate of row 5
    ids = list(range(100, 112))
    ids[7] = ids[5]                   # duplicated id (row 7 copies 5's id)
    V[7] = V[5] * 3.0                 # ... with a parallel vector
    threshold = 0.6
    pdf = pd.DataFrame({"vec_id": ids, "embedding": [v.tolist() for v in V]})
    out = embedding_pairs_exact(
        ds.from_pandas(pdf), threshold=threshold, block_size=3
    ).compute()

    norms = np.linalg.norm(V, axis=1)
    norms[norms == 0] = 1.0
    want = []
    for i in range(len(ids)):
        for j in range(len(ids)):
            if ids[i] >= ids[j]:
                continue
            cos = float(np.round(V[i] @ V[j] / (norms[i] * norms[j]), 6))
            if cos >= threshold:
                want.append((ids[i], ids[j], cos))
    got = sorted(
        (int(a), int(b), float(c))
        for a, b, c in out[["id_a", "id_b", "cosine"]].values
    )
    assert got == sorted(want)
    assert (103, 104, 0.6) in got
    assert (100, 101, 1.0) in got
    # id 105 twice: (105, 106) once per copy, (105, 105) never
    assert sum(p[:2] == (105, 106) for p in got) == 2
    assert not any(a == b for a, b, _ in got)
    assert not any(102 in (a, b) for a, b, _ in got)


def test_ann_bruteforce_matches_numpy(vectors):
    from dask_spark.operators.similarity import brute_force_topk

    pdf, f = vectors
    q = list(np.arange(8) / 8.0)
    out = brute_force_topk(f, q, k=5).compute()
    M = np.stack(pdf.embedding.values)
    qv = np.array(q)
    cos = (M @ qv) / (np.linalg.norm(M, axis=1) * np.linalg.norm(qv))
    want = [f"v{i}" for i in np.argsort(-cos)[:5]]
    assert out.vec_id.tolist() == want


def test_ann_lsh_subset_of_corpus(vectors):
    from dask_spark.operators.similarity import lsh_topk

    pdf, f = vectors
    q = pdf.embedding.iloc[0]
    out = lsh_topk(f, q, k=5, planes=4).compute()
    assert 1 <= len(out) <= 5
    assert out.vec_id.iloc[0] == "v0" or out.cosine.iloc[0] >= 0.99


def test_ann_ivf_recall(vectors):
    from dask_spark.operators.similarity import brute_force_topk, ivf_topk

    pdf, f = vectors
    q = list(np.arange(8) / 8.0)
    exact = set(brute_force_topk(f, q, k=3).compute().vec_id)
    approx = set(ivf_topk(f, q, k=3, n_probe=8, n_clusters=8).compute().vec_id)
    assert len(exact & approx) >= 2  # ≥2/3 recall with generous probes


def test_token_count(spark):
    import pyspark.sql.functions as F

    from dask_spark.functions.text import token_count

    sdf = spark.createDataFrame([("one two  three",), ("",)], ["t"])
    out = sdf.select(
        token_count(F.col("t")).alias("ws"),
        token_count(F.col("t"), "bpe").alias("bpe"),
    ).collect()
    assert out[0].ws == 3 and out[1].ws == 0


def test_quality_score_ordering(spark):
    import pyspark.sql.functions as F

    from dask_spark.functions.text import quality_score

    good = (
        "The market closed higher today as investors weighed the latest "
        "economic data and the central bank held interest rates steady."
    )
    junk = "$$$ !!! ??? ### 123 xx yy zz !!!!"
    sdf = spark.createDataFrame([(good,), (junk,)], ["t"])
    s = [r.q for r in sdf.select(quality_score(F.col("t")).alias("q")).collect()]
    assert s[0] > 0.7 > s[1]


def test_lang_id(spark):
    import pyspark.sql.functions as F

    from dask_spark.functions.text import lang_id

    rows = [
        ("the cat sat on the mat and the dog is here", "en"),
        ("der hund und die katze ist im haus und der garten", "de"),
        ("le chat et le chien est dans la maison et les arbres", "fr"),
        ("xyzzy qwerty", "und"),
    ]
    sdf = spark.createDataFrame([(t,) for t, _ in rows], ["t"])
    got = [r.l for r in sdf.select(lang_id(F.col("t")).alias("l")).collect()]
    assert got == [want for _, want in rows]


def test_fingerprint_deterministic(spark):
    import pyspark.sql.functions as F

    from dask_spark.functions.text import fingerprint

    sdf = spark.createDataFrame([("hello   world",), ("hello world",), ("other",)], ["t"])
    got = [r.f for r in sdf.select(fingerprint(F.col("t")).alias("f")).collect()]
    assert got[0] == got[1]  # whitespace-normalized
    assert got[0] != got[2]
    # python oracle of the rolling hash
    h = 0
    for ch in "hello world":
        h = (h * 257 + ord(ch)) % ((1 << 61) - 1)
    assert got[0] == format(h, "x")


def test_multimodal_plumbing(tables):
    from dask_spark.functions.multimodal import (
        attach_fake_media,
        decode_features,
        extract_meta,
    )

    docs = tables["documents"].head_frame(20)
    media = attach_fake_media(docs)
    assert dict(media.to_spark().dtypes)["media"] == "binary"
    meta = extract_meta(media).compute()
    assert {"kind", "width", "height", "n_bytes"} <= set(meta.columns)
    feats = decode_features(media, out_dim=6).compute()
    assert all(len(v) == 6 for v in feats.features)
    # resize: binary out, metadata updated, payload length scales with
    # the new pixel count, deterministic for identical inputs
    from dask_spark.functions.multimodal import resize_media

    small = resize_media(media, 32, 32)
    big = resize_media(media, 64, 64)
    sm = small.compute()
    assert dict(small.to_spark().dtypes)["media"] == "binary"
    m0 = extract_meta(small).compute()
    assert set(m0.width) == {32} and set(m0.height) == {32}
    bl = {d: len(m) for d, m in zip(big.compute().doc_id,
                                    big.compute().media)}
    sl = {d: len(m) for d, m in zip(sm.doc_id, sm.media)}
    assert all(bl[d] == 4 * sl[d] for d in sl)  # 4x pixels -> 4x bytes
    again = resize_media(media, 32, 32).compute()
    assert list(again.media) == list(sm.media)  # deterministic fake


def test_ann_batch_matches_per_query(vectors):
    from dask_spark.operators.similarity import (
        brute_force_topk,
        brute_force_topk_batch,
    )

    pdf, f = vectors
    qs = [(0, list(np.arange(8) / 8.0)), (1, list(pdf.embedding.iloc[3]))]
    batch = brute_force_topk_batch(f, qs, k=4).compute()
    for qid, qv in qs:
        single = brute_force_topk(f, qv, k=4).compute()
        got = batch[batch.query_id == qid].sort_values(
            ["cosine", "vec_id"], ascending=[False, True]
        )
        assert got.vec_id.tolist() == single.vec_id.tolist()


def test_categorize_codes(spark):
    import pandas as pd

    import dask_spark as ds
    from dask_spark.operators.reshape import categorize

    pdf = pd.DataFrame({"c": ["b", "a", "c", "a"]})
    out = categorize(ds.from_pandas(pdf), "c").compute()
    mapping = dict(zip(out.c, out.c_code))
    assert mapping == {"a": 0, "b": 1, "c": 2}


def test_value_counts_normalize(tables, pdf_tables):
    got = tables["lineitem"].l_returnflag.value_counts(normalize=True).compute()
    want = pdf_tables["lineitem"].l_returnflag.value_counts(normalize=True)
    m = dict(zip(got.l_returnflag, got.proportion))
    for k, v in want.items():
        assert m[k] == pytest.approx(v)


def test_lsh_band_udf_matches_expression(vectors, spark):
    """The batched-matmul signature path must bucket identically to the
    per-plane expression path (same hyperplanes, same bit order)."""
    import pyspark.sql.functions as F

    from dask_spark.functions.vector import lsh_band_signature_udf, lsh_signature

    _, f = vectors
    sdf = f.to_spark()
    dim, planes, bands, seed = 8, 6, 4, 7
    old = sdf.select(
        "vec_id",
        *[
            lsh_signature(F.col("embedding"), dim, planes, seed + 101 * b).alias(f"b{b}")
            for b in range(bands)
        ],
    )
    new = sdf.select(
        "vec_id",
        lsh_band_signature_udf(dim, planes, bands, seed)(F.col("embedding")).alias("s"),
    )
    j = old.join(new, "vec_id")
    mismatch = j.filter(
        sum(
            (F.col(f"b{b}") != F.col("s").getItem(b)).cast("int")
            for b in range(bands)
        )
        > 0
    ).count()
    assert mismatch == 0


def test_contamination_flags_overlapping_docs(spark):
    """Benchmark decontamination: a corpus doc sharing most 3-grams
    with a benchmark doc is flagged; an unrelated doc is not."""
    import pandas as pd

    import dask_spark as ds
    from dask_spark.operators.dedup import contamination

    bench = ds.from_pandas(pd.DataFrame({
        "doc_id": [1],
        "text": ["the quick brown fox jumps over the lazy dog"],
    }))
    corpus = ds.from_pandas(pd.DataFrame({
        "doc_id": [10, 11],
        "text": [
            "the quick brown fox jumps over a sleepy dog",   # heavy overlap
            "completely unrelated words about spark engines today",
        ],
    }))
    got = contamination(corpus, bench, ngram=3, threshold=0.5).compute()
    flags = dict(zip(got.doc_id, got.contaminated))
    assert flags[10] == True and flags[11] == False  # noqa: E712
    totals = dict(zip(got.doc_id, got.total_grams))
    assert totals[10] == 7 and totals[11] == 5


def test_connected_components_clusters(spark):
    """Label propagation forms exact components: a 4-node chain, a
    triangle, and an isolated pair; singletons don't appear."""
    import pandas as pd

    import dask_spark as ds
    from dask_spark.operators.dedup import connected_components

    pairs = pd.DataFrame(
        {"id_a": [1, 2, 3, 10, 11, 10, 20],
         "id_b": [2, 3, 4, 11, 12, 12, 21]}
    )
    for kw in ({}, {"driver_edges": 0}):  # driver gate AND distributed
        got = connected_components(ds.from_pandas(pairs), **kw).compute()
        comp = dict(zip(got.id, got.component))
        assert comp == {1: 1, 2: 1, 3: 1, 4: 1,
                        10: 10, 11: 10, 12: 10,
                        20: 20, 21: 20}, kw
    with pytest.raises(ValueError):  # validated BEFORE the size gate
        connected_components(ds.from_pandas(pairs), algorithm="lable")


def test_connected_components_deep_chain_and_convergence_guard(spark):
    """A 120-node path graph (diameter 119): label propagation now
    survives ~119 rounds (per-round lineage truncation — plan nesting
    used to OOM the driver around round 30), and BOTH algorithms
    raise instead of silently returning wrong components when
    max_iter is too small."""
    import pandas as pd

    import dask_spark as ds
    from dask_spark.operators.dedup import connected_components

    n = 120
    pairs = pd.DataFrame({"id_a": range(n - 1), "id_b": range(1, n)})
    f = ds.from_pandas(pairs)
    with pytest.raises(ValueError, match="did not converge"):
        connected_components(f, max_iter=10, driver_edges=0).compute()
    with pytest.raises(ValueError, match="did not converge"):
        connected_components(
            f, max_iter=2, driver_edges=0, algorithm="star"
        ).compute()
    out = connected_components(f, max_iter=200, driver_edges=0).compute()
    assert len(out) == n and out.component.nunique() == 1
    assert set(out.component) == {0}


def test_connected_components_fractional_and_null_ids(spark):
    """Two review-confirmed hazards: (a) fractional ids must not trip
    the decimal label-sum convergence shortcut (0.1..0.5 all round to
    0 — an early exit returned wrong components); (b) a pair with a
    null endpoint carries no linkage and is dropped on EVERY path
    (pd.factorize would code the null as -1, aliasing it to the LAST
    node and fusing unrelated clusters)."""
    import pandas as pd

    import dask_spark as ds
    from dask_spark.operators.dedup import connected_components

    # (a) 5-node path graph over fractional double ids
    chain = pd.DataFrame({"id_a": [0.1, 0.2, 0.3, 0.4],
                          "id_b": [0.2, 0.3, 0.4, 0.5]})
    for kw in ({}, {"driver_edges": 0}):
        got = connected_components(ds.from_pandas(chain), **kw).compute()
        comp = dict(zip(got.id, got.component))
        assert comp == {x / 10: 0.1 for x in range(1, 6)}, kw
    # (b) null endpoint: {10,11} must stay its own component
    nullp = pd.DataFrame({"id_a": [1.0, 10.0, None],
                          "id_b": [2.0, 11.0, 1.0]})
    for kw in ({}, {"driver_edges": 0}):
        got = connected_components(ds.from_pandas(nullp), **kw).compute()
        comp = {k: v for k, v in zip(got.id, got.component)
                if pd.notna(k)}
        assert comp == {1.0: 1.0, 2.0: 1.0, 10.0: 10.0, 11.0: 10.0}, kw


def test_knn_join_recall_vs_bruteforce(tables):
    """Approximate k-NN join: for most vectors the LSH-band candidates
    must recover the true nearest neighbor (recall@1 over a sample)."""
    import numpy as np

    from dask_spark.operators.similarity import knn_join

    emb = tables["embeddings"]
    got = knn_join(emb, emb, k=3, bands=12, planes=4, exclude_self=True).compute()

    M = np.array([list(v) for v in emb.compute().embedding])
    ids = emb.compute().vec_id.to_numpy()
    Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
    S = Mn @ Mn.T
    np.fill_diagonal(S, -2)
    true_nn = {ids[i]: ids[int(np.argmax(S[i]))] for i in range(len(ids))}

    top1 = got[got["rank"] == 1].set_index("l_id").r_id.to_dict()
    hits = sum(1 for i, nn in true_nn.items() if top1.get(i) == nn)
    assert hits / len(true_nn) > 0.6, f"recall@1 {hits}/{len(true_nn)}"


def test_connected_components_star_matches_label(spark):
    """Pointer-doubling (large/small-star) produces the same labels as
    propagation on mixed components."""
    import pandas as pd

    import dask_spark as ds
    from dask_spark.operators.dedup import connected_components

    pairs = pd.DataFrame(
        {"id_a": [1, 2, 3, 10, 11, 10, 20],
         "id_b": [2, 3, 4, 11, 12, 12, 21]}
    )
    got = connected_components(
        ds.from_pandas(pairs), algorithm="star", driver_edges=0
    ).compute()
    comp = dict(zip(got.id, got.component))
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1,
                    10: 10, 11: 10, 12: 10,
                    20: 20, 21: 20}


def test_connected_components_star_path_graph_log_rounds(spark):
    """1,000-node path graph (diameter 999): star alternation must
    converge in O(log n) rounds — label propagation would need ~999 —
    and still label every node with the component min (0)."""
    import pandas as pd

    import pyspark.sql.functions as F

    from dask_spark.operators.dedup import _cc_star

    n = 1000
    edges = spark.createDataFrame(
        pd.DataFrame({"src": range(n - 1), "dst": range(1, n)})
    )
    labels, rounds = _cc_star(edges, max_iter=40)
    assert rounds <= 15, f"expected O(log n) rounds, took {rounds}"
    out = labels.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.abs(F.col("component"))).alias("s"),
    ).first()
    assert out["n"] == n and out["s"] == 0


def test_scrub_pii_and_counts(spark):
    import pandas as pd

    import pyspark.sql.functions as F

    import dask_spark as ds
    from dask_spark.functions.text import pii_counts, scrub_pii

    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2],
            "text": [
                "mail bob@example.com or call 555-123-4567, ssn 123-45-6789",
                "server at 10.0.0.1 is clean",
            ],
        }
    )
    out = (
        ds.from_pandas(pdf)
        .to_spark()
        .select(
            "doc_id",
            scrub_pii(F.col("text")).alias("s"),
            pii_counts(F.col("text")).alias("c"),
        )
        .orderBy("doc_id")
        .collect()
    )
    assert out[0]["s"] == "mail <EMAIL> or call <PHONE>, ssn <SSN>"
    assert out[0]["c"]["email"] == 1 and out[0]["c"]["ssn"] == 1
    assert out[1]["s"] == "server at <IPV4> is clean"
    assert out[1]["c"]["ipv4"] == 1 and out[1]["c"]["email"] == 0


def test_chunk_spans_overlap(spark):
    import pandas as pd

    import pyspark.sql.functions as F

    import dask_spark as ds
    from dask_spark.functions.text import chunk_spans

    words = " ".join(f"w{i}" for i in range(25))
    pdf = pd.DataFrame({"doc_id": [1], "text": [words]})
    rows = (
        ds.from_pandas(pdf)
        .to_spark()
        .select(F.explode(chunk_spans(F.col("text"), 10, 2)).alias("c"))
        .select("c.chunk_id", "c.chunk_text", "c.n_tokens")
        .orderBy("chunk_id")
        .collect()
    )
    # stride 8: starts 0, 8, 16 — 25 tokens → 3 chunks of 10/10/9
    assert [r["n_tokens"] for r in rows] == [10, 10, 9]
    assert rows[1]["chunk_text"].startswith("w8 ")
    # overlap: last 2 tokens of chunk k = first 2 of chunk k+1
    assert rows[0]["chunk_text"].split()[-2:] == rows[1]["chunk_text"].split()[:2]


def test_repetition_stats(spark):
    import pandas as pd

    import pyspark.sql.functions as F

    import dask_spark as ds
    from dask_spark.functions.text import repetition_stats

    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "text": [
                "a b a b a c c c",  # dup-heavy: top 2-gram "a b"×2, run ccc
                "hello",            # single token
                "one two three four five",  # no repetition
            ],
        }
    )
    out = {
        r["doc_id"]: r
        for r in ds.from_pandas(pdf)
        .to_spark()
        .withColumn("r", repetition_stats(F.col("text")))
        .select("doc_id", "r.*")
        .collect()
    }
    r1 = out[1]
    assert r1["dup_word_frac"] == pytest.approx(1 - 3 / 8)
    # ties at count 2 ("a b", "b a", "c c") → lexicographically first
    assert r1["top_gram"] == "a b" and r1["top_gram_count"] == 2
    assert r1["top_gram_char_frac"] == pytest.approx(2 * 3 / 15)
    assert r1["max_token_run"] == 3
    r2 = out[2]
    assert r2["dup_word_frac"] == 0.0
    assert r2["top_gram"] == "hello" and r2["top_gram_count"] == 1
    assert r2["max_token_run"] == 1
    r3 = out[3]
    assert r3["dup_word_frac"] == 0.0
    assert r3["top_gram_count"] == 1 and r3["max_token_run"] == 1


def test_repetition_stats_staged_parity(spark):
    import random

    import pandas as pd

    import pyspark.sql.functions as F

    import dask_spark as ds
    from dask_spark.functions.text import repetition_stats, with_repetition_stats

    random.seed(3)
    words = [f"w{i}" for i in range(40)]
    pdf = pd.DataFrame(
        {
            "doc_id": range(50),
            "text": [
                " ".join(random.choice(words) for _ in range(random.randint(0, 25)))
                for _ in range(50)
            ],
        }
    )
    sdf = ds.from_pandas(pdf).to_spark()
    fast = with_repetition_stats(sdf).drop("text").orderBy("doc_id").collect()
    slow = (
        sdf.withColumn("r", repetition_stats(F.col("text")))
        .select("doc_id", "r.*")
        .orderBy("doc_id")
        .collect()
    )
    assert [tuple(r) for r in fast] == [tuple(r) for r in slow]


def test_bm25_matches_python_oracle(spark):
    import math

    import pandas as pd

    import dask_spark as ds
    from dask_spark.operators.similarity import bm25_topk

    docs = {
        1: "spark runs fast and spark scales",
        2: "join the table with a hash join plan",
        3: "filter rows then join",
        4: "nothing relevant here at all",
        5: "spark filter join spark filter join",
    }
    terms, k1, b = ["spark", "join"], 1.2, 0.75
    toks = {i: t.split() for i, t in docs.items()}
    n = len(docs)
    avgdl = sum(map(len, toks.values())) / n
    def score(i):
        s = 0.0
        for t in terms:
            tf = toks[i].count(t)
            df = sum(1 for w in toks.values() if t in w)
            idf = math.log(1 + (n - df + 0.5) / (df + 0.5))
            s += idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * len(toks[i]) / avgdl))
        return round(s, 6)
    expect = sorted(docs, key=lambda i: (-score(i), i))[:3]

    frame = ds.from_pandas(
        pd.DataFrame({"doc_id": list(docs), "text": list(docs.values())})
    )
    got = bm25_topk(frame, terms, k=3).compute()
    assert list(got.doc_id) == expect
    for _, row in got.iterrows():
        assert row["score"] == pytest.approx(score(row["doc_id"]), abs=1e-6)


def test_canonicalize_picks_best_per_cluster(spark):
    import pandas as pd

    import dask_spark as ds
    from dask_spark.operators.dedup import canonicalize

    docs = ds.from_pandas(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3, 4, 5, 6],
                "n_chars": [10, 50, 50, 7, 9, 100],
            }
        )
    )
    # clusters: {1,2,3} (chain 1-2, 2-3) and {4,5}; 6 untouched
    pairs = ds.from_pandas(
        pd.DataFrame({"id_a": [1, 2, 4], "id_b": [2, 3, 5]})
    )
    out = (
        canonicalize(docs, pairs, quality_col="n_chars")
        .compute()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    assert list(out.doc_id) == [1, 2, 3, 4, 5]  # doc 6 never enters
    # cluster {1,2,3}: quality tie 2 vs 3 at 50 → min id 2 wins
    assert list(out.keeper_id) == [2, 2, 2, 5, 5]
    assert list(out.is_keeper) == [False, True, False, False, True]


def test_dsir_scores_target_affinity(spark):
    """DSIR log importance weights: docs sharing the target's
    vocabulary score strictly above docs that don't; empty docs score
    exactly 0; the md5 and xxhash64 modes agree on the ORDERING (the
    bucket layouts differ, the evidence is the same)."""
    import dask_spark as ds
    from dask_spark.operators.mixing import dsir_scores

    target_text = "spark sql query engine optimizer catalyst plan"
    rows = [
        ("c1", "spark sql query engine shuffles the optimizer plan"),
        ("c2", "banana bread recipe flour butter sugar oven bake"),
        ("c3", ""),
    ]
    corpus = ds.from_pandas(pd.DataFrame(rows, columns=["doc_id", "text"]))
    target = ds.from_pandas(pd.DataFrame(
        [("t1", target_text), ("t2", target_text + " spark catalyst")],
        columns=["doc_id", "text"],
    ))
    got = (
        dsir_scores(corpus, target, n_buckets=256)
        .compute().set_index("doc_id")
    )
    assert got.loc["c1", "dsir_logweight"] > got.loc["c2", "dsir_logweight"]
    assert got.loc["c3", "dsir_logweight"] == 0.0
    assert got.loc["c3", "n_tokens"] == 0
    xx = (
        dsir_scores(corpus, target, n_buckets=256, word_hash="xxhash64")
        .compute().set_index("doc_id")
    )
    assert xx.loc["c1", "dsir_logweight"] > xx.loc["c2", "dsir_logweight"]


def test_dsir_resample_gumbel_topk(spark):
    """Gumbel-top-k resample: k distinct docs, seeded-reproducible,
    and under a 40-seed sweep high-weight docs are selected far more
    often than low-weight ones (sampling ∝ importance weight)."""
    import dask_spark as ds
    from dask_spark.operators.mixing import dsir_resample

    target_text = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [(f"t{i}", target_text) for i in range(3)]
    target = ds.from_pandas(pd.DataFrame(rows, columns=["doc_id", "text"]))
    corpus_rows = [
        ("hit%d" % i, target_text) for i in range(4)
    ] + [
        ("miss%d" % i, "unrelated words nothing shared here at all %d" % i)
        for i in range(12)
    ]
    corpus = ds.from_pandas(
        pd.DataFrame(corpus_rows, columns=["doc_id", "text"])
    )
    out = dsir_resample(corpus, target, k=4, n_buckets=256).compute()
    assert len(out) == 4 and out["doc_id"].is_unique
    again = dsir_resample(corpus, target, k=4, n_buckets=256).compute()
    assert out["doc_id"].tolist() == again["doc_id"].tolist()
    hits = 0
    for s in range(12):
        sel = dsir_resample(
            corpus, target, k=4, n_buckets=256, salt=f"s{s}"
        ).compute()
        hits += sum(1 for d in sel["doc_id"] if d.startswith("hit"))
    # 4 target-alike docs out of 16 with far higher weights: they
    # should dominate the draws (random would give ~12 of 48)
    assert hits >= 30, hits


def test_temperature_mix_quotas_and_plan(spark):
    import pandas as pd

    import dask_spark as ds
    from dask_spark.operators.mixing import temperature_mix
    from dask_spark.plans import shuffle_count

    rows = [("a", i) for i in range(4)] + [("b", i + 100) for i in range(64)]
    frame = ds.from_pandas(pd.DataFrame(rows, columns=["source", "doc_id"]))
    out = temperature_mix(frame, scale=1.0).compute()
    by = out.groupby("source").size().to_dict()
    assert by == {"a": 2, "b": 8}  # ceil(sqrt(4))=2, ceil(sqrt(64))=8
    # deterministic: same selection on re-run
    again = temperature_mix(frame, scale=1.0).compute()
    assert sorted(out.doc_id) == sorted(again.doc_id)
    # count window + rank window share one exchange on source
    assert shuffle_count(temperature_mix(frame, scale=1.0)) == 1


def test_token_entropy(spark):
    import math

    import pandas as pd

    import dask_spark as ds
    from dask_spark.functions.text import with_token_entropy

    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "text": ["a a a a", "a b c d", ""],
        }
    )
    out = {
        r["doc_id"]: r["entropy"]
        for r in with_token_entropy(ds.from_pandas(pdf).to_spark()).collect()
    }
    assert out[1] == 0.0  # single repeated token: no entropy
    assert out[2] == pytest.approx(math.log(4), abs=1e-6)  # uniform over 4
    assert out[3] == 0.0  # empty doc guard


def test_lm_perplexity(spark):
    """Unigram-LM quality gate: a Python replay of the exact model —
    add-one logprobs over the fitted vocab + OOV bucket, sorted-order
    fold — must match per doc; common-token docs score LOWER than
    rare/OOV docs (the CCNet signal); empty docs score exp(0)=1."""
    import math

    import pandas as pd

    import dask_spark as ds
    from dask_spark.functions.text import fit_unigram_lm, with_lm_perplexity

    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4],
            "text": [
                "a a a a b",          # mostly the modal token
                "a b q r",            # half OOV-ish rare tokens
                "zz yy xx ww vv uu",  # all outside a small vocab
                "",                   # empty guard
            ],
        }
    )
    sdf = ds.from_pandas(pdf).to_spark()
    lm = fit_unigram_lm(sdf, vocab_size=2, alpha=1.0)
    # vocab = top-2 by (count desc, token asc): a(5), b(2)
    assert set(lm.logprobs) == {"a", "b"}
    total = 15.0
    denom = total + 1.0 * 3
    assert lm.logprobs["a"] == math.log(6.0 / denom)
    # 10 observed types, 2 in vocab: OOV mass spreads over 8
    assert lm.oov_logprob == math.log((total - 7.0 + 1.0) / denom / 8.0)
    out = {
        r["doc_id"]: r["perplexity"]
        for r in with_lm_perplexity(sdf, lm).collect()
    }

    def replay(text):
        toks = sorted(text.split())
        if not toks:
            return 1.0
        s = 0.0
        for t in toks:
            s += lm.logprobs.get(t, lm.oov_logprob)
        return round(math.exp(-s / len(toks)), 6)

    for i, text in zip(pdf.doc_id, pdf.text):
        assert out[i] == replay(text), (i, out[i], replay(text))
    assert out[1] < out[2] < out[3]
    assert out[4] == 1.0
    with pytest.raises(ValueError):
        fit_unigram_lm(sdf, vocab_size=0)
    with pytest.raises(ValueError):
        fit_unigram_lm(sdf, alpha=0.0)


def test_temperature_mix_prefilter_margin_widens(spark):
    """A deliberately-too-small candidate margin must widen until the
    selection is exact — identical rows to the generous-margin run."""
    import pandas as pd

    import dask_spark as ds
    from dask_spark.operators.mixing import temperature_mix

    rows = [("s", i) for i in range(200)]
    frame = ds.from_pandas(pd.DataFrame(rows, columns=["source", "doc_id"]))
    full = temperature_mix(frame, scale=1.0, candidate_margin=4.0).compute()
    tight = temperature_mix(frame, scale=1.0, candidate_margin=0.01).compute()
    assert sorted(tight.doc_id) == sorted(full.doc_id)
    assert len(full) == 15  # ceil(sqrt(200)) = 15


def test_hashed_linear_classifier(spark):
    """Linear classifier inference: scores match a python replay of
    the same hashed-feature fold; empty docs get bias-only scores;
    ties resolve to the lowest class index; xxhash64 fast path yields
    the same schema."""
    import hashlib

    import pandas as pd

    from dask_spark.functions.text import hashed_linear_scores

    D = 16
    W = [[(f * 3 + c) % 5 - 2.0 for f in range(D)] for c in range(2)]
    B = [0.5, 0.5]
    docs = pd.DataFrame(
        {"doc_id": [0, 1, 2], "text": ["alpha beta beta", "", "gamma"]}
    )
    out = (
        hashed_linear_scores(
            spark.createDataFrame(docs), W, B, labels=["a", "b"]
        )
        .orderBy("doc_id")
        .toPandas()
    )

    def h(tok):
        return int(hashlib.md5(tok.encode()).hexdigest()[:15], 16) % D

    for _, r in out.iterrows():
        toks = [t for t in str(docs.text[r.doc_id]).lower().split() if t]
        for c, lab in enumerate(["a", "b"]):
            want = B[c] + (
                sum(W[c][h(t)] for t in toks) / len(toks) if toks else 0.0
            )
            assert r[f"score_{lab}"] == pytest.approx(want, abs=1e-9)
    # empty doc: bias-only, biases equal -> tie -> first label
    assert out.loc[out.doc_id == 1, "label"].iloc[0] == "a"
    fast = hashed_linear_scores(
        spark.createDataFrame(docs), W, B, labels=["a", "b"],
        word_hash="xxhash64",
    )
    assert {"score_a", "score_b", "label"} <= set(fast.columns)


def test_semantic_dedup_matches_python_replay(spark, tables):
    """semantic_dedup must EXACTLY reproduce a python replay: same
    deterministic centroids, same argmin assignment, same greedy
    keep-lowest-id rule within each cell."""
    import numpy as np

    from dask_spark.operators.dedup import semantic_dedup
    from dask_spark.operators.similarity import kmeans_centroids

    import dask_spark as ds
    import pyspark.sql.functions as F

    base = tables["embeddings"]
    # union an id-offset copy: every vector gains an exact duplicate
    # (cos = 1), so the greedy rule must drop the higher-id twin
    copy = ds.DaskFrame(
        base._sdf.select(
            (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
        )
    )
    emb = ds.DaskFrame(
        base._sdf.select("vec_id", "embedding").unionByName(copy._sdf)
    )
    cents = kmeans_centroids(emb, "embedding", n_clusters=8)
    got = (
        semantic_dedup(emb, "embedding", "vec_id", threshold=0.9,
                       centroids=cents)
        .compute()
        .sort_values("vec_id")
        .reset_index(drop=True)
    )

    pdf = emb.compute().sort_values("vec_id").reset_index(drop=True)
    V = np.asarray([np.asarray(v, dtype="float64") for v in pdf.embedding])
    C = np.asarray(cents)
    d2 = ((V[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
    cluster = d2.argmin(axis=1)
    keep = np.ones(len(V), dtype=bool)
    norms = np.linalg.norm(V, axis=1)
    for c in range(len(C)):
        idx = np.where(cluster == c)[0]
        for pos, i in enumerate(idx):
            for j in idx[:pos]:
                cos = V[i] @ V[j] / (norms[i] * norms[j])
                if cos >= 0.9:
                    keep[i] = False
                    break
    assert (got.cluster.to_numpy() == cluster).all()
    assert (got.keep.to_numpy() == keep).all()
    # every duplicated vector keeps exactly its low-id twin
    assert keep.sum() == len(V) // 2


def test_minhash_precision_recall_vs_exact(tables):
    """Corpus-level quality harness for the approximate path: MinHash-
    LSH pairs vs the EXACT n-gram Jaccard join as truth on the real
    documents table. The driver corpus's true near-dups are
    high-similarity, so both precision and recall sit at 1.0 today;
    the 0.9 floors leave margin for data drift while still catching a
    broken hash family or banding bug immediately."""
    from dask_spark.operators.dedup import (
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
    )

    docs = tables["documents"]
    truth = ngram_jaccard_pairs(docs, threshold=0.5).compute()
    tset = set(map(tuple, truth[["id_a", "id_b"]].values))
    pred = minhash_lsh_pairs(
        docs, num_hashes=64, bands=16, shingle_k=5, jaccard_threshold=0.5
    ).compute()
    pset = set(map(tuple, pred[["id_a", "id_b"]].values))
    assert tset, "truth set empty — corpus has no near-dups?"
    tp = len(tset & pset)
    assert tp / max(len(pset), 1) >= 0.9, f"precision {tp}/{len(pset)}"
    assert tp / len(tset) >= 0.9, f"recall {tp}/{len(tset)}"


def test_simhash_precision_recall_vs_exact(tables):
    """SimHash quality harness vs the exact n-gram Jaccard truth on
    the real corpus: different similarity notions (cosine-of-counts
    vs set Jaccard), so floors sit at 0.6 — today it measures
    P=0.78 / R=0.75; a broken vote fold or banding drops it to ~0."""
    from dask_spark.operators.dedup import ngram_jaccard_pairs, simhash_pairs

    docs = tables["documents"]
    truth = ngram_jaccard_pairs(docs, threshold=0.5).compute()
    tset = set(map(tuple, truth[["id_a", "id_b"]].values))
    pred = simhash_pairs(docs).compute()
    pset = set(map(tuple, pred[["id_a", "id_b"]].values))
    tp = len(tset & pset)
    assert tp / max(len(pset), 1) >= 0.6, f"precision {tp}/{len(pset)}"
    assert tp / max(len(tset), 1) >= 0.6, f"recall {tp}/{len(tset)}"


def test_embedding_lsh_planted_pair_recall(spark):
    """Banded hyperplane LSH must recover PLANTED near-duplicates
    (cos ≈ 0.998) with full recall and no false pairs at a 0.95
    threshold — the exact cosine verify removes any band collision."""
    import dask_spark as ds
    from dask_spark.operators.dedup import embedding_dedup_pairs

    rng = np.random.RandomState(3)
    base = rng.randn(200, 64)
    planted = base[:50] + rng.randn(50, 64) * 0.05
    V = np.vstack([base, planted])
    pdf = pd.DataFrame(
        {
            "vec_id": [f"v{i:03d}" for i in range(250)],
            "embedding": [v.tolist() for v in V],
        }
    )
    out = embedding_dedup_pairs(
        ds.from_pandas(pdf), id_col="vec_id", threshold=0.95
    ).compute()
    got = set(map(tuple, out[["id_a", "id_b"]].values))
    want = {(f"v{i:03d}", f"v{200 + i:03d}") for i in range(50)}
    assert len(got & want) >= 45  # ≥90% planted recall
    assert len(got - want) == 0  # exact verify: no false pairs


@pytest.mark.smoke
def test_repetition_engines_agree_exactly(spark, tables):
    """with_repetition_stats' Arrow Counter kernel must emit IDENTICAL
    repetition stats to the single-Column repetition_stats expression
    chain (the kernel returns raw values; rounding stays JVM-side) —
    including ties (min gram == lexicographically first sorted gram)
    and null/empty/whitespace text."""
    import pandas as pd
    import pyspark.sql.functions as F

    import dask_spark.functions.text as T

    pdf = pd.DataFrame({
        "text": [
            "a b a b a b",          # clear 2-gram winner
            "x y z x y z x",        # tie between 'x y' and 'y z'
            "w w w w",              # token runs
            "solo",                 # single token
            "",                     # empty
            None,                   # null text
            "  \t  ",               # whitespace only
            "Mixed CASE mixed case",  # lowercasing
        ] + [
            # unicode: Java's \\s is ASCII (nbsp/ideographic space are
            # TOKEN CHARS in both engines), locale-free lowercasing
            "İstanbul İ İ sigma Σ ΣΣ",
            "STRASSE ß ss STRASSE ß",
            "nbsp separated words",
            "ideograph　full　width",
            "emoji 😀 😀 test 😀",
        ],
    })
    pdf["doc_id"] = list(range(len(pdf)))
    sdf = spark.createDataFrame(pdf)
    a = (sdf.withColumn("r", T.repetition_stats(F.col("text")))
         .select("doc_id", "r.*").orderBy("doc_id").toPandas())
    b = (T.with_repetition_stats(sdf)
         .drop("text").orderBy("doc_id").toPandas())
    assert list(a.columns) == list(b.columns)
    for c in a.columns:
        av, bv = a[c], b[c]
        if av.dtype == object:
            assert list(av.fillna("∅")) == list(bv.fillna("∅")), c
        else:
            assert list(av.fillna(-1)) == list(bv.fillna(-1)), c


def test_kmeans_numpy_replay_parity(spark, tables):
    """Distributed Lloyd's (operators/cluster.py kmeans) vs a literal
    numpy replay of the same algorithm (same init, same rounding,
    same tie-break) — assignments and centroids must agree exactly."""
    import numpy as np

    from dask_spark.operators.cluster import kmeans

    e = tables["embeddings"]
    out, cents = kmeans(e, "embedding", "vec_id", k=4, iters=2)
    got = {
        r["vec_id"]: r["cluster"] for r in out.to_spark().collect()
    }

    rows = (
        e.to_spark()
        .selectExpr("vec_id", "cast(embedding as array<double>) v")
        .orderBy("vec_id")
        .collect()
    )
    ids = [r["vec_id"] for r in rows]
    X = np.array([r["v"] for r in rows])
    C = X[:4].copy()

    def assign(C):
        d = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        return d.argmin(axis=1)  # argmin takes the first (lowest) index

    for _ in range(2):
        a = assign(C)
        for c in range(4):
            if (a == c).any():
                C[c] = np.round(X[a == c].mean(axis=0), 9)
    final = assign(C)
    exp = dict(zip(ids, final))
    mismatch = [i for i in ids if got[i] != exp[i]]
    assert not mismatch, mismatch[:5]
    assert np.allclose(np.array(cents), C, atol=1e-9)


def test_pca_numpy_parity(spark, tables):
    """pca_fit/pca_project (operators/cluster.py) vs numpy: cov eigh
    on the collected matrix, same descending order and sign-fix —
    components, explained variance, and per-row projections must
    agree to float tolerance; projection plan is map-only."""
    import numpy as np

    from dask_spark.operators.cluster import pca_fit, pca_project

    e = tables["embeddings"]
    comps, mu, ev = pca_fit(e, "embedding", n_components=3)
    rows = (
        e.to_spark()
        .selectExpr("vec_id", "cast(embedding as array<double>) v")
        .orderBy("vec_id")
        .collect()
    )
    X = np.array([r["v"] for r in rows])
    C = np.cov(X, rowvar=False, ddof=1)
    w, V = np.linalg.eigh(C)
    order = np.argsort(-w, kind="stable")[:3]
    EC = V[:, order].T.copy()
    for i in range(3):
        j = int(np.argmax(np.abs(EC[i])))
        if EC[i][j] < 0:
            EC[i] = -EC[i]
    assert np.allclose(np.array(mu), X.mean(axis=0), atol=1e-9)
    assert np.allclose(np.array(ev), w[order], atol=1e-8)
    assert np.allclose(np.array(comps), EC, atol=1e-7)

    proj = pca_project(e, comps, mu, round_dp=None).to_spark()
    plan = proj._jdf.queryExecution().sparkPlan().toString()
    assert "Exchange" not in plan and "Join" not in plan, plan[:800]
    got = {r["vec_id"]: (r["pc0"], r["pc1"], r["pc2"])
           for r in proj.collect()}
    P = (X - X.mean(axis=0)) @ np.array(comps).T
    for i, r in enumerate(rows):
        assert np.allclose(got[r["vec_id"]], P[i], atol=1e-6), i
    # variance captured by pc0 should dominate any single input dim
    assert ev[0] >= C.diagonal().max() - 1e-9


def test_bpe_learn_python_replay_parity(spark, tables):
    """bpe_learn (operators/bpe.py) vs a literal python replay of
    Sennrich et al.'s algorithm (wordcount -> weighted pair counts
    -> greedy merge, ties to lexicographically-first pair) — every
    rank's (left, right, freq) must agree exactly."""
    from collections import Counter

    from dask_spark.operators.bpe import apply_merges, bpe_learn

    d = tables["documents"]
    got = bpe_learn(d, "text", n_merges=6)

    wc = Counter()
    for r in d.to_spark().select("text").collect():
        for w in r["text"].lower().split():
            if w:
                wc[w] += 1
    merges = []
    exp = []
    for rank in range(6):
        pc = Counter()
        for w, f in wc.items():
            syms = apply_merges(list(w) + ["</w>"], merges)
            for a, b in zip(syms, syms[1:]):
                pc[(a, b)] += f
        if not pc:
            break
        best = min(pc.items(), key=lambda kv: (-kv[1], kv[0][0] + " " + kv[0][1]))
        if best[1] < 2:
            break
        merges.append(best[0])
        exp.append((rank, best[0][0], best[0][1], best[1]))
    assert got == exp, (got[:3], exp[:3])


def test_bpe_apply_merges_greedy_contract(spark):
    """Merge application: leftmost-first, non-overlapping, ranks in
    order; a merged token participates in later ranks."""
    from dask_spark.operators.bpe import apply_merges

    # aaa + (a,a) -> [aa, a]: greedy non-overlapping from the left
    assert apply_merges(list("aaa"), [("a", "a")]) == ["aa", "a"]
    assert apply_merges(list("aaaa"), [("a", "a")]) == ["aa", "aa"]
    # rank order: (a,a) then (aa,a) chains
    assert apply_merges(list("aaa"), [("a", "a"), ("aa", "a")]) == ["aaa"]
    # marker participates
    assert apply_merges(["h", "i", "</w>"], [("i", "</w>")]) == ["h", "i</w>"]


def test_cms_overestimates_and_superset(spark, tables):
    """CMS one-sided error contract: est(t) >= true count for EVERY
    term, and heavy_hitters is a superset of the true >= min_count
    set; the exact cnt column matches a straight wordcount. Both
    hash kinds."""
    import pyspark.sql.functions as F

    from dask_spark.functions.text import word_tokens
    from dask_spark.operators.sketch import cms_counts, cms_heavy_hitters

    d = tables["documents"]
    truth = {
        r["term"]: r["cnt"]
        for r in d.to_spark()
        .select(F.explode(word_tokens(F.col("text"))).alias("term"))
        .groupBy("term").agg(F.count("*").alias("cnt")).collect()
    }
    for hk in ("md5", "xxhash64"):
        # narrow width forces collisions — the contract must hold
        got = {
            r["term"]: (r["est"], r["cnt"])
            for r in cms_heavy_hitters(
                d, min_count=20, depth=3, width=64, hash_kind=hk
            ).to_spark().collect()
        }
        for t, (est, cnt) in got.items():
            assert cnt == truth[t], (hk, t)
            assert est >= cnt, (hk, t, est, cnt)
        heavy = {t for t, c in truth.items() if c >= 20}
        assert heavy <= set(got), (hk, heavy - set(got))
        flat = cms_counts(d, depth=3, width=64, hash_kind=hk)
        # total mass per sketch row == total token count
        n_tokens = sum(truth.values())
        for j in range(3):
            assert sum(flat[j * 64:(j + 1) * 64]) == n_tokens, (hk, j)


def test_cms_probe_plan_map_only(spark, tables):
    """The probe/filter side ships the sketch as a literal — scan ->
    project/filter with no join; the only exchange is the candidate
    groupBy."""
    import pyspark.sql.functions as F

    from dask_spark.operators.sketch import cms_counts, cms_estimate
    from dask_spark.functions.text import word_tokens

    d = tables["documents"]
    flat = cms_counts(d, depth=3, width=64)
    probe = d.to_spark().select(
        F.explode(word_tokens(F.col("text"))).alias("term")
    ).select(cms_estimate(F.col("term"), flat, depth=3, width=64)
             .alias("est"))
    plan = probe._jdf.queryExecution().sparkPlan().toString()
    assert "Join" not in plan, plan[:800]
    assert "Exchange" not in plan, plan[:800]


def test_pq_numpy_replay_parity(spark, tables):
    """Product-quantization train/encode/score (cluster.py
    pq_codebooks/pq_encode, similarity.py pq_topk) vs a literal numpy
    replay — codebooks, codes, and 6-dp ADC distances must agree
    exactly; top-k ordering included."""
    import numpy as np

    from dask_spark.operators.cluster import pq_codebooks, pq_encode
    from dask_spark.operators.similarity import pq_topk

    m, ks, dsub = 4, 4, 16
    query = [((i * 37 + 11) % 64) / 64.0 - 0.5 for i in range(64)]
    e = tables["embeddings"]
    books = pq_codebooks(e, "embedding", "vec_id", m=m, ks=ks, iters=2)
    enc = {
        r["vec_id"]: list(r["codes"])
        for r in pq_encode(e, books).to_spark().collect()
    }
    top = pq_topk(e, query, k=10, books=books).to_spark().collect()

    rows = (
        e.to_spark()
        .selectExpr("vec_id", "cast(embedding as array<double>) v")
        .orderBy("vec_id")
        .collect()
    )
    ids = [r["vec_id"] for r in rows]
    X = np.array([r["v"] for r in rows])
    B = np.stack([X[:ks, s * dsub:(s + 1) * dsub] for s in range(m)])

    def assign(B):
        codes = np.empty((len(X), m), dtype=int)
        for s in range(m):
            Xs = X[:, s * dsub:(s + 1) * dsub]
            d = ((Xs[:, None, :] - B[s][None, :, :]) ** 2).sum(axis=2)
            codes[:, s] = d.argmin(axis=1)  # first minimum
        return codes

    for _ in range(2):
        a = assign(B)
        for s in range(m):
            Xs = X[:, s * dsub:(s + 1) * dsub]
            for c in range(ks):
                if (a[:, s] == c).any():
                    B[s][c] = np.round(Xs[a[:, s] == c].mean(axis=0), 9)
    codes = assign(B)
    assert np.allclose(np.array(books), B, atol=1e-9)
    exp = dict(zip(ids, codes.tolist()))
    mismatch = [i for i in ids if enc[i] != exp[i]]
    assert not mismatch, mismatch[:5]

    q = np.asarray(query)
    tbl = np.stack([
        ((q[s * dsub:(s + 1) * dsub][None, :] - B[s]) ** 2).sum(axis=1)
        for s in range(m)
    ])
    adc = {
        i: round(sum(tbl[s][exp[i][s]] for s in range(m)), 6) for i in ids
    }
    order = sorted(ids, key=lambda i: (adc[i], i))[:10]
    assert [r["vec_id"] for r in top] == order
    for r in top:
        assert abs(r["adc"] - adc[r["vec_id"]]) < 1e-9, r


def test_pq_guards_and_plan(spark, tables):
    import pytest as _pt

    from dask_spark.operators.cluster import pq_codebooks, pq_encode

    e = tables["embeddings"]
    with _pt.raises(ValueError):
        pq_codebooks(e, m=7)  # 64 % 7 != 0
    with _pt.raises(ValueError):
        pq_codebooks(e.head_frame(2), ks=8)
    books = pq_codebooks(e, m=4, ks=4, iters=1)
    assert len(books) == 4 and len(books[0]) == 4
    assert len(books[0][0]) == 16
    plan = (
        pq_encode(e, books).to_spark()
        ._jdf.queryExecution().sparkPlan().toString()
    )
    # encode is MAP-ONLY: books ride as closure literals
    assert "Join" not in plan, plan[:800]
    assert "Exchange" not in plan, plan[:800]


def test_kmeans_guards_and_plan(spark, tables):
    import pytest as _pt

    from dask_spark.operators.cluster import kmeans

    e = tables["embeddings"]
    with _pt.raises(ValueError):
        kmeans(e.head_frame(2), k=8, iters=1)
    out, _ = kmeans(e, k=4, iters=1)
    plan = out.to_spark()._jdf.queryExecution().sparkPlan().toString()
    # the final assignment is MAP-ONLY: centroids are literals, no
    # join/exchange in the assign plan
    assert "Join" not in plan, plan[:800]
    assert "Exchange" not in plan, plan[:800]


def test_span_dedup_strips_shared_spans(spark):
    """A span duplicated across docs disappears from BOTH; unique
    spans survive in order; a fully-duplicated doc stays in the
    output with empty text."""
    import dask_spark as ds
    from dask_spark.operators.dedup import span_dedup

    dup8 = "a b c d e f g h"           # one exact 8-token span
    rows = [
        ("d1", dup8 + " unique tail one two three four five six"),
        ("d2", dup8 + " other ending seven eight nine ten eleven twelve"),
        ("d3", dup8),                    # nothing but the shared span
        ("d4", "fully distinct words nobody else repeats anywhere at all"),
        ("d5", ""),                      # empty doc
    ]
    f = ds.from_pandas(pd.DataFrame(rows, columns=["doc_id", "text"]))
    out = (
        span_dedup(f, span_tokens=8, max_count=1)
        .compute().set_index("doc_id").sort_index()
    )
    assert len(out) == 5                       # row count stable
    assert out.loc["d1", "kept_text"] == "unique tail one two three four five six"
    assert out.loc["d1", "n_spans"] == 2 and out.loc["d1", "n_removed"] == 1
    assert out.loc["d3", "kept_text"] == "" and out.loc["d3", "n_removed"] == 1
    assert out.loc["d4", "n_removed"] == 0
    assert out.loc["d4", "kept_text"] == rows[3][1]
    assert out.loc["d5", "n_spans"] == 0 and out.loc["d5", "kept_text"] == ""


def test_span_dedup_order_preserved(spark):
    """Survivor spans reassemble in original span order even when the
    removed span sits in the middle."""
    import dask_spark as ds
    from dask_spark.operators.dedup import span_dedup

    shared = "x1 x2 x3 x4"
    rows = [
        ("a", "alpha beta gamma delta " + shared + " omega psi chi phi"),
        ("b", shared),
    ]
    f = ds.from_pandas(pd.DataFrame(rows, columns=["doc_id", "text"]))
    out = (
        span_dedup(f, span_tokens=4, max_count=1)
        .compute().set_index("doc_id")
    )
    assert out.loc["a", "kept_text"] == "alpha beta gamma delta omega psi chi phi"


def test_substring_dedup_alignment_free(spark):
    """The ExactSubstr window scrub catches a duplicate passage at
    DIFFERENT offsets in each doc (the case aligned span_dedup
    misses), merges overlapping windows into one maximal span, and
    leaves short/unique docs untouched."""
    import dask_spark as ds
    from dask_spark.operators.dedup import span_dedup, substring_dedup

    shared = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        ("d1", "intro words here " + shared + " tail one"),
        ("d2", "x " + shared + " completely different ending text"),
        ("d3", "tiny doc"),
        ("d4", "unique content that appears nowhere else in the corpus"),
        ("d5", ""),
    ]
    f = ds.from_pandas(pd.DataFrame(rows, columns=["doc_id", "text"]))
    out = (
        substring_dedup(f, window_tokens=8)
        .compute().set_index("doc_id").sort_index()
    )
    assert len(out) == 5                          # row count stable
    # the 12 shared tokens vanish from BOTH docs despite the offset
    assert out.loc["d1", "kept_text"] == "intro words here tail one"
    assert out.loc["d2", "kept_text"] == "x completely different ending text"
    assert out.loc["d1", "n_removed"] == 12
    assert out.loc["d2", "n_removed"] == 12
    assert out.loc["d3", "n_removed"] == 0 and out.loc["d3", "kept_text"] == "tiny doc"
    assert out.loc["d4", "n_removed"] == 0
    assert out.loc["d5", "n_tokens"] == 0 and out.loc["d5", "kept_text"] == ""
    # aligned span_dedup misses the shifted copy entirely (both docs
    # keep everything) — the motivating gap
    aligned = (
        span_dedup(f, span_tokens=8, max_count=1)
        .compute().set_index("doc_id")
    )
    assert aligned.loc["d1", "n_removed"] == 0
    # production hash mode produces identical output on a clean corpus
    xx = (
        substring_dedup(f, window_tokens=8, window_hash="xxhash64")
        .compute().set_index("doc_id").sort_index()
    )
    assert (xx["kept_text"] == out["kept_text"]).all()
    assert (xx["n_removed"] == out["n_removed"]).all()


def test_substring_dedup_keep_one(spark):
    """keep='one' (Lee et al.'s contract): the globally first
    occurrence (min doc id, min pos) of a duplicated passage survives,
    all other copies are scrubbed — at least one copy always remains;
    within one doc the FIRST copy wins."""
    import dask_spark as ds
    from dask_spark.operators.dedup import substring_dedup

    shared = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        ("a", "intro words here " + shared + " tail one"),
        ("b", "x " + shared + " completely different ending text"),
        ("c", "unique content that appears nowhere else whatsoever here"),
    ]
    f = ds.from_pandas(pd.DataFrame(rows, columns=["doc_id", "text"]))
    out = (
        substring_dedup(f, window_tokens=8, keep="one")
        .compute().set_index("doc_id")
    )
    assert out.loc["a", "n_removed"] == 0          # canonical copy kept
    assert shared in out.loc["a", "kept_text"]
    assert out.loc["b", "n_removed"] == 12         # later copy scrubbed
    assert out.loc["b", "kept_text"] == "x completely different ending text"
    assert out.loc["c", "n_removed"] == 0
    # within-doc repeat: first occurrence wins
    w8 = "w1 w2 w3 w4 w5 w6 w7 w8"
    f2 = ds.from_pandas(pd.DataFrame(
        [("r1", w8 + " middle filler words go here " + w8)],
        columns=["doc_id", "text"],
    ))
    got = substring_dedup(f2, window_tokens=8, keep="one").compute()
    assert got.iloc[0]["kept_text"] == w8 + " middle filler words go here"
    with pytest.raises(ValueError):
        substring_dedup(f, keep="bogus")


def test_substring_dedup_within_doc_repeat(spark):
    """A window repeated INSIDE one doc counts as duplicated (count
    counts occurrences, not docs) and both copies are scrubbed."""
    import dask_spark as ds
    from dask_spark.operators.dedup import substring_dedup

    w8 = "w1 w2 w3 w4 w5 w6 w7 w8"
    rows = [("r1", w8 + " middle filler words go here " + w8),
            ("r2", "some other totally unrelated document text here now")]
    f = ds.from_pandas(pd.DataFrame(rows, columns=["doc_id", "text"]))
    out = (
        substring_dedup(f, window_tokens=8)
        .compute().set_index("doc_id")
    )
    assert out.loc["r1", "kept_text"] == "middle filler words go here"
    assert out.loc["r1", "n_removed"] == 16
    assert out.loc["r2", "n_removed"] == 0


def test_bloom_contamination_no_false_negatives(spark, corpus):
    """Bloom flags are a SUPERSET of exact flags (one-sided error):
    every exact hit gram is bloom-positive, per doc hit_grams_bloom >=
    hit_grams_exact, and with m=4096 on this tiny set there is room
    for zero false positives to dominate."""
    import dask_spark as ds
    from dask_spark.operators.dedup import contamination, contamination_bloom

    bench_rows = [("b1", "the quick brown fox jumps over the lazy dog")]
    bench = ds.from_pandas(
        pd.DataFrame(bench_rows, columns=["doc_id", "text"])
    )
    exact = (
        contamination(corpus, bench, ngram=3, threshold=0.5)
        .compute().set_index("doc_id")
    )
    bloom = (
        contamination_bloom(corpus, bench, ngram=3, m_bits=4096, k=3,
                            threshold=0.5)
        .compute().set_index("doc_id")
    )
    assert set(bloom.index) == set(exact.index)
    for d in exact.index:
        assert bloom.loc[d, "total_grams"] == exact.loc[d, "total_grams"]
        assert bloom.loc[d, "hit_grams"] >= exact.loc[d, "hit_grams"]
        if exact.loc[d, "contaminated"]:
            assert bloom.loc[d, "contaminated"]
    # the planted overlap is found by both paths (7 of d1's 16 grams —
    # under the 0.5 ratio cut, but every one must be bloom-positive)
    assert exact.loc["d1", "hit_grams"] == 7
    assert bloom.loc["d1", "hit_grams"] >= 7


def test_bloom_probe_plan_is_exchange_free(spark, corpus):
    """The 100 TB property the bloom variant buys: the probe side has
    NO exchange of any kind — scan → in-row project. (The build job
    collects ≤ m_bits positions separately.)"""
    import dask_spark as ds
    from dask_spark.operators.dedup import contamination_bloom

    bench = ds.from_pandas(
        pd.DataFrame([("b1", "the quick brown fox")],
                     columns=["doc_id", "text"])
    )
    out = contamination_bloom(corpus, bench, ngram=3)
    sdf = out.to_spark()
    txt = sdf._jdf.queryExecution().executedPlan().toString()
    # the only allowed exchange is the compact-doc repartition the
    # token stage performs on small local inputs; no aggregate/join
    # exchange may appear
    assert "BroadcastExchange" not in txt
    assert "HashAggregate" not in txt and "SortMergeJoin" not in txt


def test_quantize_int8_roundtrip(spark):
    """Quantization reconstructs within the absmax/254 grid bound and
    cosine(orig, dequant) stays near 1; zero vectors take scale=1 and
    all-zero codes."""
    import dask_spark as ds
    import pyspark.sql.functions as F
    from dask_spark.functions.vector import dequantize_int8, quantize_int8

    rng = np.random.RandomState(7)
    vecs = [rng.randn(16).astype("float32").tolist() for _ in range(20)]
    vecs.append([0.0] * 16)
    pdf = pd.DataFrame({"vec_id": list(range(21)), "embedding": vecs})
    f = ds.from_pandas(pdf)
    out = (
        f.to_spark()
        .select(
            "vec_id",
            quantize_int8(F.col("embedding")).alias("qs"),
        )
        .select(
            "vec_id",
            F.col("qs")["scale"].alias("scale"),
            F.col("qs")["q"].alias("q"),
            dequantize_int8(F.col("qs")).alias("d"),
        )
        .toPandas()
        .set_index("vec_id")
        .sort_index()
    )
    for i in range(20):
        v = np.array(vecs[i], dtype=np.float64)
        d = np.array(out.loc[i, "d"], dtype=np.float64)
        q = np.array(out.loc[i, "q"])
        scale = out.loc[i, "scale"]
        assert np.abs(q).max() <= 127
        # half-step reconstruction bound
        assert np.abs(v - d).max() <= scale / 2 + 1e-12
        denom = np.linalg.norm(v) * np.linalg.norm(d)
        assert v @ d / denom > 0.999
    assert out.loc[20, "scale"] == 1.0 and not np.any(out.loc[20, "q"])


def _expr_bloom_hits(words, k, m_bits):
    """Reference bloom probe for contamination_bloom: the same k
    Kirsch–Mitzenmacher bit-tests per gram as Catalyst expressions
    over ONE array literal of the signed bit words, counted with an
    in-row filter. Same call shape as dedup._bloom_hits_udf."""
    import pyspark.sql.functions as F

    bitset = F.lit([int(w) for w in words])
    m = F.lit(int(m_bits))

    def is_set(pos):
        # F.get is 0-based and takes a Column index; the PySpark
        # shiftright wrapper only takes a literal shift, so resolve
        # the SQL function directly for the column-valued bit offset
        word = F.get(bitset, (pos / 64).cast("int"))
        return F.call_function(
            "shiftright", word, pos % 64
        ).bitwiseAND(F.lit(1)) == 1

    def flagged(h1, h2):
        # mod-m pre-reduction keeps j*h2 inside int64 for any k
        h1m = F.pmod(h1, m)
        h2m = F.pmod(h2.bitwiseOR(F.lit(1)), m)
        cond = None
        for j in range(k):
            test = is_set(F.pmod(h1m + j * h2m, m))
            cond = test if cond is None else cond & test
        return cond

    def hits(h1s, h2s):
        return F.size(F.filter(F.zip_with(h1s, h2s, flagged), lambda b: b))

    return hits


@pytest.mark.smoke
def test_bloom_engine_and_hash_modes(spark, corpus, monkeypatch):
    """The Arrow probe kernel is bit-identical to a Catalyst-expression
    reference probe (pure int64 arithmetic on both sides), in both
    hash modes; xxhash64 keeps the one-sided-error contract; a bad
    hash_kind raises."""
    import dask_spark as ds
    from dask_spark.operators import dedup
    from dask_spark.operators.dedup import contamination, contamination_bloom

    bench = ds.from_pandas(
        pd.DataFrame([("b1", "the quick brown fox jumps over the lazy dog")],
                     columns=["doc_id", "text"])
    )

    def run(**kw):
        return (
            contamination_bloom(corpus, bench, ngram=3, **kw)
            .compute().sort_values("doc_id").reset_index(drop=True)
        )

    am, ax = run(), run(hash_kind="xxhash64")
    assert am["hit_grams"].sum() > 0 and ax["hit_grams"].sum() > 0
    with monkeypatch.context() as mp:
        mp.setattr(dedup, "_bloom_hits_udf", _expr_bloom_hits)
        assert am.equals(run())
        assert ax.equals(run(hash_kind="xxhash64"))
    # superset-of-exact also holds under the production hash
    exact = (
        contamination(corpus, bench, ngram=3)
        .compute().set_index("doc_id")
    )
    axi = ax.set_index("doc_id")
    assert set(axi.index) == set(exact.index)
    for d in exact.index:
        assert axi.loc[d, "hit_grams"] >= exact.loc[d, "hit_grams"]
    with pytest.raises(ValueError, match="hash_kind"):
        run(hash_kind="sha1")


def test_contamination_minhash(corpus):
    """Fuzzy decontamination: the exact dup and the one-word-edit
    near-dup of the benchmark doc must flag (near-dup at high but
    sub-1.0 estimated Jaccard); unrelated and cross-language docs must
    not."""
    from dask_spark.operators.dedup import contamination_minhash

    bench = corpus[corpus["doc_id"] == "d1"]
    rest = corpus[corpus["doc_id"] != "d1"]
    out = contamination_minhash(
        rest, bench, jaccard_threshold=0.25
    ).compute()
    flagged = dict(zip(out.doc_id, out.jaccard_est))
    assert flagged.get("d2") == 1.0          # exact duplicate
    assert 0.25 <= flagged.get("d3", 0) <= 1.0  # one-word edit
    assert "d4" not in flagged and "d5" not in flagged
    assert (out.match_id == "d1").all()
    # md5 mode produces the same decisions (engine-portable twin)
    out2 = contamination_minhash(
        rest, bench, jaccard_threshold=0.25, word_hash="md5"
    ).compute()
    assert set(out2.doc_id) == set(out.doc_id)


def test_minhash_band_validation(corpus):
    from dask_spark.operators.dedup import (
        contamination_minhash,
        minhash_lsh_pairs,
    )

    with pytest.raises(ValueError):
        minhash_lsh_pairs(corpus, num_hashes=32, bands=7)
    with pytest.raises(ValueError):
        contamination_minhash(corpus, corpus, num_hashes=32, bands=64)


def test_hll_python_replay_exact(spark, tables):
    """hll_registers/hll_count_distinct (md5 mode) vs a literal
    hashlib replay: every register's max_rho matches exactly, and the
    estimate is bit-identical through the scaled-integer harmonic sum
    (one double division on the same int64 operands)."""
    import hashlib

    from dask_spark.operators.sketch import (
        _HLL_BITS,
        _HLL_SCALE,
        hll_alpha,
        hll_count_distinct,
        hll_registers,
    )

    o = tables["orders"]
    vals = [r["o_custkey"] for r in
            o.to_spark().select("o_custkey").collect()]
    p, m = 7, 128
    wp = _HLL_BITS - p
    ref = {}
    for v in vals:
        h = int(hashlib.md5(str(v).encode()).hexdigest()[:15], 16)
        reg, w = h % m, h // m
        rho = (wp + 1) if w == 0 else (wp + 1 - w.bit_length())
        ref[reg] = max(ref.get(reg, 0), rho)
    got = {r["register"]: r["max_rho"]
           for r in hll_registers(o, "o_custkey", p=p).to_spark().collect()}
    assert got == ref
    sp = sum(1 << (_HLL_SCALE - r) for r in ref.values())
    full = sp + (m - len(ref)) * (1 << _HLL_SCALE)
    raw = (hll_alpha(p) * m * m * float(1 << _HLL_SCALE)) / float(full)
    zeros = m - len(ref)
    import math
    exp = m * math.log(m / zeros) if (raw <= 2.5 * m and zeros > 0) else raw
    row = hll_count_distinct(o, "o_custkey", p=p).to_spark().first()
    assert row["sum_scaled"] == full
    assert row["nonzero_registers"] == len(ref)
    assert row["est_distinct"] == pytest.approx(round(exp, 6), rel=1e-12)


def test_hll_estimate_within_error_bound(spark, tables):
    """Both hash kinds: the estimate lands within 3x the standard
    error 1.04/sqrt(m) of the true distinct count (m=512), and the
    register exchange is bounded by m rows."""
    import pyspark.sql.functions as F

    from dask_spark.operators.sketch import hll_count_distinct, hll_registers

    li = tables["lineitem"]
    true = li.to_spark().select("l_orderkey").distinct().count()
    for hk in ("md5", "xxhash64"):
        est = hll_count_distinct(
            li, "l_orderkey", p=9, hash_kind=hk
        ).to_spark().first()["est_distinct"]
        assert abs(est - true) / true < 3 * 1.04 / (512 ** 0.5), (hk, est, true)
        assert hll_registers(li, "l_orderkey", p=9, hash_kind=hk) \
            .to_spark().count() <= 512


def test_hll_small_range_linear_counting(spark):
    """Tiny cardinalities route through the linear-counting
    correction: est = m * ln(m / zero_registers), checked against the
    python form and close to truth."""
    import math

    from dask_spark.operators.sketch import hll_count_distinct, hll_registers

    df = spark.createDataFrame([(i % 20,) for i in range(1000)], "v int")
    row = hll_count_distinct(df, "v", p=9).to_spark().first()
    nz = hll_registers(df, "v", p=9).to_spark().count()
    assert row["nonzero_registers"] == nz
    exp = 512 * math.log(512 / (512 - nz))
    assert row["est_distinct"] == pytest.approx(round(exp, 6), rel=1e-9)
    assert abs(row["est_distinct"] - 20) / 20 < 0.35


def test_logreg_fit_python_replay_parity(spark, tables):
    """hashed_logreg_fit vs a literal python replay (hashlib features,
    decimal HALF_UP gradient rounding — the F.round twin): weights,
    bias, and losses must match bit-for-bit across 3 iterations, and
    the loss must strictly decrease."""
    import hashlib

    import pyspark.sql.functions as F

    from dask_spark.functions.text import _round_half_up6, hashed_logreg_fit

    d = tables["documents"].to_spark()
    w, b, losses = hashed_logreg_fit(
        d, F.col("text").contains("slow").cast("int"),
        n_features=64, lr=0.5, iters=3,
    )
    docs = []
    for r in d.select("text").collect():
        toks = [t for t in r["text"].lower().split() if t]
        if not toks:
            continue
        feats = [int(hashlib.md5(t.encode()).hexdigest()[:15], 16) % 64
                 for t in toks]
        docs.append((1.0 if "slow" in r["text"] else 0.0, feats))
    W, B, N, LS = [0.0] * 64, 0.0, len(docs), []
    for _ in range(3):
        g, ge, ls = [0.0] * 64, 0.0, 0.0
        for yv, feats in docs:
            n = float(len(feats))
            acc = 0.0
            for f in feats:  # ordered fold, same as F.aggregate
                acc = acc + W[f]
            z = B + acc / n
            sig = 1.0 / (1.0 + math.exp(-z))
            ls += (yv * math.log(1.0 + math.exp(-z))
                   + (1.0 - yv) * math.log(1.0 + math.exp(z)))
            ge += sig - yv
            for f in feats:
                g[f] += (sig - yv) / n
        W = [W[j] - 0.5 * _round_half_up6(g[j] / N) for j in range(64)]
        B = B - 0.5 * _round_half_up6(ge / N)
        LS.append(ls / N)
    assert w == W and b == B
    assert losses == pytest.approx(LS, rel=1e-12)
    assert losses[0] == pytest.approx(math.log(2.0))  # zero model
    assert losses[2] < losses[1] < losses[0]


def test_logreg_fit_separates_and_feeds_inference(spark, tables):
    """The trained model separates the classes through the inference
    twin: mean sigmoid score of positive docs exceeds negatives, and
    hashed_linear_scores with [w] reproduces the training-side z."""
    import pyspark.sql.functions as F

    from dask_spark.functions.text import (
        hashed_linear_scores,
        hashed_logreg_fit,
    )

    d = tables["documents"].to_spark()
    y = F.col("text").contains("slow").cast("int")
    w, b, _ = hashed_logreg_fit(d, y, iters=3)
    scored = hashed_linear_scores(
        d.withColumn("__y", y.cast("double")),
        [w], [b], labels=["pos"],
    )
    agg = scored.filter(F.size(
        F.filter(F.split(F.lower("text"), r"\s+"),
                 lambda t: F.length(t) > 0)) > 0) \
        .groupBy("__y").agg(F.avg("score_pos").alias("s")).collect()
    by_y = {r["__y"]: r["s"] for r in agg}
    assert by_y[1.0] > by_y[0.0]


def test_bpe_encode_python_replay_parity(spark, tables):
    """bpe_encode vs literal python: learn merges on the corpus, then
    every doc's token array and count must match a direct
    apply_merges replay; total tokens = chars + words - merge hits."""
    from dask_spark.operators.bpe import (
        END,
        apply_merges,
        bpe_encode,
        bpe_learn,
    )

    d = tables["documents"]
    merges = bpe_learn(d, "text", n_merges=5)
    assert merges, "corpus should yield at least one merge"
    pairs = [(m[1], m[2]) for m in merges]
    got = {
        r["doc_id"]: (list(r["tokens"]), r["n_tokens"])
        for r in bpe_encode(d, merges).to_spark().collect()
    }
    rows = d.to_spark().select("doc_id", "text").collect()
    assert len(got) == len(rows)
    for r in rows:
        exp = []
        for w in r["text"].lower().split():
            exp.extend(apply_merges(list(w) + [END], pairs))
        toks, n = got[r["doc_id"]]
        assert toks == exp, r["doc_id"]
        assert n == len(exp)
    # merges actually fired somewhere
    merged = [t for toks, _ in got.values() for t in toks if len(t) > 1
              and t != END]
    assert merged


def test_bpe_encode_accepts_bare_pairs_and_is_map_only(spark, tables):
    """(left, right) pairs work like bpe_learn rows, and the encode
    plan has no exchange — map-only at any scale."""
    import pyspark.sql.functions as F

    from dask_spark.operators.bpe import bpe_encode

    d = tables["documents"]
    out = bpe_encode(d, [("t", "h"), ("th", "e")]).to_spark()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan[:500]
    row = out.filter(F.col("n_tokens") > 0).first()
    assert row is not None and len(row["tokens"]) == row["n_tokens"]


def test_hll_by_group_matches_per_group_replay(spark, tables):
    """Keyed HLL == running the global estimator on each group's
    slice separately (same registers, same estimate), and every
    group's estimate is within 3x the m=128 standard error."""
    import pyspark.sql.functions as F

    from dask_spark.operators.sketch import hll_count_distinct

    o = tables["orders"].to_spark().withColumn(
        "yr", F.substring(F.col("o_orderdate").cast("string"), 1, 4)
    )
    got = {
        r["yr"]: (r["est_distinct"], r["sum_scaled"], r["nonzero_registers"])
        for r in hll_count_distinct(
            o, "o_custkey", p=7, group_cols=["yr"]
        ).to_spark().collect()
    }
    years = [r["yr"] for r in o.select("yr").distinct().collect()]
    assert set(got) == set(years)
    for yr in years:
        sl = o.filter(F.col("yr") == yr)
        solo = hll_count_distinct(sl, "o_custkey", p=7).to_spark().first()
        assert got[yr] == (solo["est_distinct"], solo["sum_scaled"],
                           solo["nonzero_registers"]), yr
        true = sl.select("o_custkey").distinct().count()
        assert abs(got[yr][0] - true) / true < 3 * 1.04 / (128 ** 0.5), yr


def test_ivfpq_contract_and_python_replay(spark, tables):
    """ivfpq_topk: probed cells replay in python (same centroid
    distance arithmetic), every output row's cell is in the probe
    set, adc is ascending with id tie-break, and each row's ADC
    distance equals the python table lookup bit-for-bit (residual ->
    per-cell table -> sum, the oracle arithmetic)."""
    from dask_spark.operators.cluster import kmeans, pq_codebooks, pq_encode
    from dask_spark.operators.similarity import ivfpq_topk
    from dask_spark.queries import QUERY_VEC

    e = tables["embeddings"]
    out = ivfpq_topk(e, QUERY_VEC, k=10, kc=8, n_probe=4).to_spark() \
        .orderBy("adc", "vec_id").collect()
    assert len(out) == 10
    adcs = [r["adc"] for r in out]
    assert adcs == sorted(adcs)

    # independent replay of probe + tables over the SAME components
    import pyspark.sql.functions as F

    assigned, cents = kmeans(e, "embedding", "vec_id", k=8, iters=1)
    q = [float(x) for x in QUERY_VEC]
    dim = len(cents[0])

    def l2r_dot(a, b):
        acc = a[0] * b[0]
        for i in range(1, len(a)):
            acc = acc + a[i] * b[i]
        return acc

    dists = sorted(
        ((l2r_dot(q, q) - 2.0 * l2r_dot(q, c)) + l2r_dot(c, c), ci)
        for ci, c in enumerate(cents)
    )
    probe = [ci for _, ci in dists[:4]]
    assert {r["cell"] for r in out} <= set(probe)

    cmat = {ci: cents[ci] for ci in range(len(cents))}
    res = e.to_spark().select("vec_id", "embedding") \
        .join(assigned._sdf, "vec_id").collect()
    resmap = {
        r["vec_id"]: (
            r["cluster"],
            [float(a) - cmat[r["cluster"]][i]
             for i, a in enumerate(r["embedding"])],
        )
        for r in res
    }
    import dask_spark as ds
    resfr = spark.createDataFrame(
        [(i, v) for i, (c, v) in sorted(resmap.items())],
        "vec_id bigint, r array<double>",
    )
    from dask_spark.frame import DaskFrame
    books = pq_codebooks(DaskFrame(resfr), "r", "vec_id", m=4, ks=4, iters=1)
    codes = {
        r["vec_id"]: list(r["codes"])
        for r in pq_encode(DaskFrame(resfr), books, "r", "vec_id")
        .to_spark().collect()
    }
    dsub = dim // 4
    for r in out:
        cell, vid = r["cell"], r["vec_id"]
        qr = [a - b for a, b in zip(q, cmat[cell])]
        adc = 0.0
        for s in range(4):
            qs = qr[s * dsub:(s + 1) * dsub]
            c = books[s][codes[vid][s]]
            adc = adc + (
                (l2r_dot(qs, qs) - 2.0 * l2r_dot(qs, c)) + l2r_dot(c, c)
            )
        assert abs(r["adc"] - adc) < 5e-7, (vid, r["adc"], adc)


def test_pca_whiten_unit_variance(spark, tables):
    """whiten=True yields unit-variance scores (ddof=1 to match the
    fit) and equals the plain projection scaled by 1/sqrt(var)."""
    import numpy as np

    from dask_spark.operators.cluster import pca_fit, pca_project

    e = tables["embeddings"]
    comps, mu, var = pca_fit(e, "embedding", n_components=2)
    plain = pca_project(e, comps, mu, round_dp=None).to_spark() \
        .orderBy("vec_id").collect()
    white = pca_project(e, comps, mu, round_dp=None,
                        explained_var=var, whiten=True).to_spark() \
        .orderBy("vec_id").collect()
    P = np.array([[r["pc0"], r["pc1"]] for r in plain])
    W = np.array([[r["pc0"], r["pc1"]] for r in white])
    assert np.allclose(W.var(axis=0, ddof=1), 1.0, rtol=1e-9)
    assert np.allclose(W, P / np.sqrt(np.asarray(var)), rtol=1e-9)
    import pytest as _pt
    with _pt.raises(ValueError):
        pca_project(e, comps, mu, whiten=True)


def test_bigram_lm_python_replay_and_salad_detection(spark):
    """fit_bigram_lm vs a literal python replay on a toy corpus
    (bigram conditionals, unigram backoff, OOV spread), and the gate's
    point: a shuffled-word salad of fluent bigrams scores WORSE
    (higher ppl) than the fluent original, while the unigram model
    cannot tell them apart."""
    import math

    from dask_spark.functions.text import (
        fit_bigram_lm,
        fit_unigram_lm,
        with_bigram_perplexity,
        with_lm_perplexity,
    )

    fluent = "the cat sat on the mat"
    salad = "mat the on sat cat the"
    rows = [(i, fluent) for i in range(40)] + [
        (100, salad), (101, "one"), (102, "")]
    sdf = spark.createDataFrame(rows, "doc_id long, text string")

    lm = fit_bigram_lm(sdf, vocab_size=16, table_size=32)
    # python replay of the fit
    toks = [t for _, txt in rows for t in txt.lower().split()]
    from collections import Counter
    uc = Counter(toks)
    top = sorted(uc.items(), key=lambda kv: (-kv[1], kv[0]))[:16]
    total = float(len(toks))
    nv = len(top)
    denom = total + 1.0 * (nv + 1)
    exp_uni = {t: (c + 1.0) / denom for t, c in top}
    assert lm.unigram_probs == exp_uni
    pairs = []
    for _, txt in rows:
        w = txt.lower().split()
        pairs += [f"{a} {b}" for a, b in zip(w, w[1:])]
    bc = Counter(pairs)
    topb = sorted(bc.items(), key=lambda kv: (-kv[1], kv[0]))[:32]
    lefts = {p.split(" ", 1)[0] for p, _ in topb}
    lc = Counter(p.split(" ", 1)[0] for p in pairs
                 if p.split(" ", 1)[0] in lefts)
    exp_big = {p: float(c) / lc[p.split(" ", 1)[0]] for p, c in topb}
    assert lm.bigram_probs == exp_big

    out = {r["doc_id"]: r["ppl"]
           for r in with_bigram_perplexity(sdf, lm, out="ppl").collect()}
    assert out[101] == 1.0 and out[102] == 1.0  # <2 tokens
    assert out[100] > out[0], (out[100], out[0])  # salad caught
    ulm = fit_unigram_lm(sdf, vocab_size=16)
    uout = {r["doc_id"]: r["perplexity"]
            for r in with_lm_perplexity(sdf, ulm).collect()}
    assert uout[100] == uout[0]  # unigram is order-blind


def test_histogram_quantiles_accuracy_and_edges(spark, tables):
    """Estimates land within one bucket width of the exact
    percentile; empty input yields an all-null row; constant column
    yields the constant."""
    import pyspark.sql.functions as F

    from dask_spark.operators.sketch import histogram_quantiles

    o = tables["orders"]
    row = histogram_quantiles(
        o, "o_totalprice", qs=(0.25, 0.5, 0.75, 0.99), bins=1024
    ).to_spark().first()
    st = o.to_spark().agg(
        F.min("o_totalprice"), F.max("o_totalprice"),
        *[F.percentile("o_totalprice", F.lit(p)) for p in
          (0.25, 0.5, 0.75, 0.99)],
    ).first()
    width = (st[1] - st[0]) / 1024
    for i, nm in enumerate(["q_25", "q_5", "q_75", "q_99"]):
        assert abs(row[nm] - st[2 + i]) <= width * 1.5, (nm, row[nm])

    empty = spark.createDataFrame([], "v double")
    r0 = histogram_quantiles(empty, "v", qs=(0.5,)).to_spark().first()
    assert r0["q_5"] is None
    const = spark.createDataFrame([(7.25,)] * 9, "v double")
    rc = histogram_quantiles(const, "v", qs=(0.25, 0.99)).to_spark().first()
    assert rc["q_25"] == 7.25 and rc["q_99"] == 7.25


def test_lsh_tune_parameter_search():
    """lsh_tune: b*r always equals num_hashes; low thresholds pick
    many bands (recall), high thresholds pick long rows (precision);
    the returned point matches a brute-force search of the same
    objective; bad inputs raise."""
    from dask_spark.operators.dedup import lsh_tune

    for nh, t in [(64, 0.2), (64, 0.5), (64, 0.9), (32, 0.25),
                  (128, 0.7)]:
        b, r = lsh_tune(nh, t)
        assert b * r == nh
    b_lo, _ = lsh_tune(64, 0.15)
    b_hi, _ = lsh_tune(64, 0.9)
    assert b_lo > b_hi  # low threshold -> more bands
    # threshold near the S-curve midpoint of the classic 16x4 layout
    b, r = lsh_tune(64, (1.0 / 16) ** (1.0 / 4))
    assert (b, r) in {(16, 4), (8, 8), (32, 2)}
    import pytest as _pt
    with _pt.raises(ValueError):
        lsh_tune(64, 1.5)
    with _pt.raises(ValueError):
        lsh_tune(1, 0.5)


def test_cms_heavy_fraction_set_path_equals_estimate_path(spark, tables):
    """heavy_terms membership == per-token estimation when scoring
    the corpus the sketch was built from (est >= c is a pure term
    function), value-for-value."""
    from dask_spark.operators.sketch import (
        cms_counts,
        cms_doc_heavy_fraction,
        cms_heavy_hitters,
    )

    d = tables["documents"]
    counts = cms_counts(d, depth=3, width=64)
    terms = [r["term"] for r in cms_heavy_hitters(
        d, min_count=20, depth=3, width=64, counts=counts
    ).to_spark().collect()]
    a = cms_doc_heavy_fraction(
        d, counts, min_count=20, depth=3, width=64
    ).to_spark().orderBy("doc_id").collect()
    b = cms_doc_heavy_fraction(
        d, counts, min_count=20, depth=3, width=64, heavy_terms=terms
    ).to_spark().orderBy("doc_id").collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]


def test_histogram_quantiles_by_group_matches_per_slice(spark, tables):
    """Keyed histogram quantiles == the global estimator run on each
    group's slice (same stats, same buckets, same interpolation),
    and each estimate lands within 1.5 bucket widths of the exact
    per-group percentile."""
    import pyspark.sql.functions as F

    from dask_spark.operators.sketch import (
        histogram_quantiles,
        histogram_quantiles_by_group,
    )

    o = tables["orders"].to_spark().withColumn(
        "yr", F.substring(F.col("o_orderdate").cast("string"), 1, 4)
    )
    got = {
        r["yr"]: (r["q_25"], r["q_5"], r["q_75"])
        for r in histogram_quantiles_by_group(
            o, "o_totalprice", "yr", qs=(0.25, 0.5, 0.75), bins=256
        ).to_spark().collect()
    }
    years = [r["yr"] for r in o.select("yr").distinct().collect()]
    assert set(got) == set(years)
    for yr in years:
        sl = o.filter(F.col("yr") == yr)
        solo = histogram_quantiles(
            sl, "o_totalprice", qs=(0.25, 0.5, 0.75), bins=256
        ).to_spark().first()
        assert got[yr] == (solo["q_25"], solo["q_5"], solo["q_75"]), yr
        st = sl.agg(
            F.min("o_totalprice"), F.max("o_totalprice"),
            *[F.percentile("o_totalprice", F.lit(p))
              for p in (0.25, 0.5, 0.75)],
        ).first()
        width = (st[1] - st[0]) / 256
        for i in range(3):
            assert abs(got[yr][i] - st[2 + i]) <= 1.5 * width, yr
    # constant group short-circuits
    cg = spark.createDataFrame(
        [("a", 3.5)] * 5 + [("b", 1.0), ("b", 2.0)], "g string, v double"
    )
    rows = {r["g"]: r for r in histogram_quantiles_by_group(
        cg, "v", "g", qs=(0.5,), bins=16).to_spark().collect()}
    assert rows["a"]["q_5"] == 3.5
    assert 1.0 <= rows["b"]["q_5"] <= 2.0


def test_series_nunique_hll_api(spark, tables):
    """Frame-level portable HLL == the operator on the same column,
    and within the m=512 error bound of the exact count."""
    from dask_spark.operators.sketch import hll_count_distinct

    li = tables["lineitem"]
    est = li["l_orderkey"].nunique_hll()
    op = hll_count_distinct(
        li.to_spark().select("l_orderkey"), "l_orderkey", p=9
    ).to_spark().first()["est_distinct"]
    assert est == op
    true = li["l_orderkey"].nunique()
    assert abs(est - true) / true < 3 * 1.04 / (512 ** 0.5)


def test_hll_ignores_nulls(spark):
    """Nulls never reach a register (approx_count_distinct / nunique /
    oracle semantics): estimate and register table are identical with
    and without null rows, and no null register row appears."""
    from dask_spark.operators.sketch import hll_count_distinct, hll_registers

    clean = spark.createDataFrame([(i % 50,) for i in range(500)], "v int")
    dirty = clean.unionAll(
        spark.createDataFrame([(None,)] * 40, "v int")
    )
    a = hll_count_distinct(clean, "v", p=7).to_spark().first()
    b = hll_count_distinct(dirty, "v", p=7).to_spark().first()
    assert tuple(a) == tuple(b)
    regs = hll_registers(dirty, "v", p=7).to_spark().collect()
    assert all(r["register"] is not None and r["max_rho"] is not None
               for r in regs)


def test_hll_p_bounds_validated(spark):
    """p outside [4, 10] raises: p=11 would push the empty-register
    scaled term to 2^63 (signed-int64 overflow); p=3 is below the
    alpha_m table."""
    from dask_spark.operators.sketch import hll_count_distinct, hll_registers

    df = spark.createDataFrame([(1,)], "v int")
    for bad in (3, 11, 12):
        with pytest.raises(ValueError, match=r"\[4, 10\]"):
            hll_registers(df, "v", p=bad)
        with pytest.raises(ValueError, match=r"\[4, 10\]"):
            hll_count_distinct(df, "v", p=bad)


def test_cms_heavy_fraction_empty_heavy_set(spark, tables):
    """heavy_terms=[] (e.g. min_count above every corpus count) must
    not fail analysis (F.array() is array<void>): every doc with
    tokens scores heavy_frac 0.0."""
    from dask_spark.operators.sketch import cms_counts, cms_doc_heavy_fraction

    d = tables["documents"]
    counts = cms_counts(d, depth=3, width=64)
    rows = cms_doc_heavy_fraction(
        d, counts, min_count=10**9, depth=3, width=64, heavy_terms=[]
    ).to_spark().collect()
    assert len(rows) > 0
    assert all(r["heavy_frac"] == 0.0 for r in rows if r["n_tokens"] > 0)


def test_bpe_encode_null_text_and_unicode_whitespace(spark, tables):
    """bpe_encode's kernel split matches the JVM \\s+ the trainer
    tokenizes with: NULL text encodes to zero tokens (not the literal
    'none'), and NBSP / U+2028 do NOT split a word (ASCII-only
    whitespace), matching word_tokens' JVM regex."""
    from dask_spark.operators.bpe import bpe_encode, bpe_learn

    d = tables["documents"]
    merges = bpe_learn(d, "text", n_merges=8)
    nbsp, ls = "\u00a0", "\u2028"
    df = spark.createDataFrame(
        [(1, None), (2, "aa" + nbsp + "bb"), (3, "aa" + chr(32) + "bb"),
         (4, "x" + ls + "y")],
        "doc_id bigint, text string",
    )
    out = {r["doc_id"]: r for r in
           bpe_encode(df, merges).to_spark().collect()}
    assert out[1]["tokens"] == [] and out[1]["n_tokens"] == 0
    # NBSP / U+2028 are not JVM \\s: those docs stay ONE word => one
    # end-of-word marker; the ASCII-space doc yields two.
    n_words = lambda toks: sum(t.endswith("</w>") for t in toks)
    assert n_words(out[2]["tokens"]) == 1
    assert n_words(out[3]["tokens"]) == 2
    assert n_words(out[4]["tokens"]) == 1


def _pagerank_py(edges, iters, scale, num=85, den=100):
    """Pure-python integer replay of operators/graph.py pagerank."""
    from collections import defaultdict

    eset = sorted(set(edges))
    outdeg = defaultdict(int)
    for s, _ in eset:
        outdeg[s] += 1
    nodes = sorted({n for e in eset for n in e})
    teleport = scale * (den - num) // den
    r = {n: scale for n in nodes}
    for _ in range(iters):
        s = defaultdict(int)
        for a, b in eset:
            s[b] += r[a] // outdeg[a]
        r = {n: teleport + (num * s[n]) // den for n in nodes}
    return r


def test_pagerank_python_replay_parity(spark):
    """pagerank vs a literal integer replay on a small directed graph
    WITH a dangling node and a rank sink: every node's rank matches
    exactly (the arithmetic is int64 end to end, so there is no
    tolerance to hide behind)."""
    from dask_spark.operators.graph import pagerank

    edges = [(1, 2), (1, 3), (2, 3), (3, 1), (4, 3), (5, 1), (1, 2)]
    # node 6 appears only as a dst => dangling (no out-edges)
    edges.append((3, 6))
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    got = {r["node"]: r["rank"] for r in
           pagerank(df, iters=4, scale=10 ** 9).to_spark().collect()}
    exp = _pagerank_py(edges, iters=4, scale=10 ** 9)
    assert got == exp


def test_pagerank_symmetric_matches_reversed_union(spark):
    """symmetric=True == running the directed form on edges ∪
    reversed(edges), and on a star graph the hub out-ranks every
    leaf."""
    from dask_spark.operators.graph import pagerank

    edges = [(0, i) for i in range(1, 9)]
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    sym = {r["node"]: r["rank"] for r in
           pagerank(df, iters=3, scale=10 ** 9, symmetric=True)
           .to_spark().collect()}
    both = edges + [(b, a) for a, b in edges]
    exp = _pagerank_py(both, iters=3, scale=10 ** 9)
    assert sym == exp
    assert all(sym[0] > sym[i] for i in range(1, 9))


def test_pagerank_partitioning_invariant(spark):
    """The result is a pure function of the edge SET: 1-partition and
    32-partition layouts produce identical ranks (integer aggregation
    is order-free)."""
    from dask_spark.operators.graph import pagerank

    edges = [(i, (i * 7 + 3) % 40) for i in range(200)]
    edges = [(a, b) for a, b in edges if a != b]
    one = spark.createDataFrame(edges, "src bigint, dst bigint").coalesce(1)
    many = spark.createDataFrame(edges, "src bigint, dst bigint") \
        .repartition(32)
    ra = sorted(map(tuple, pagerank(one, iters=3).to_spark().collect()))
    rb = sorted(map(tuple, pagerank(many, iters=3).to_spark().collect()))
    assert ra == rb


@pytest.mark.parametrize("symmetric", [False, True])
def test_pagerank_single_round(spark, symmetric):
    """iters=1 on its own: round 1 is computed from the edge table
    (every src at its initial rank) without a rank-table join, so it
    must still match the replay exactly — including the directed
    graph's dangling node 6 and in-edge-free nodes 4 and 5."""
    from dask_spark.operators.graph import pagerank

    edges = [(1, 2), (1, 3), (2, 3), (3, 1), (4, 3), (5, 1), (1, 2),
             (3, 6)]
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    got = {r["node"]: r["rank"] for r in
           pagerank(df, iters=1, scale=10 ** 9, symmetric=symmetric)
           .to_spark().collect()}
    if symmetric:
        edges = edges + [(b, a) for a, b in edges]
    assert got == _pagerank_py(edges, iters=1, scale=10 ** 9)


def _weighted_pagerank_py(ew, seeds, iters, scale, num=85, den=100):
    """Integer replay of weighted, seeded pagerank over merged edge
    weights ``ew`` {(src, dst): w}."""
    from collections import defaultdict

    tele = scale * (den - num) // den
    wsum = defaultdict(int)
    for (s, _), w in ew.items():
        wsum[s] += w
    nodes = sorted({n for e in ew for n in e})
    r = {n: (scale if n in seeds else 0) for n in nodes}
    for _ in range(iters):
        acc = defaultdict(int)
        for (s, d), w in ew.items():
            acc[d] += (r[s] * w) // wsum[s]
        r = {n: (tele if n in seeds else 0) + (num * acc[n]) // den
             for n in nodes}
    return r


@pytest.mark.parametrize("iters", [1, 4])
def test_pagerank_ppr_mode_python_replay(spark, iters):
    """graph_ppr's mode — symmetric + weight_col + seed_fn — vs a
    literal integer replay on a bipartite order(even)↔part(odd) graph
    with parallel rows and one row already reversed, so a pair's
    weight merges from both directions. iters=4 also crosses the
    every-3-rounds lineage checkpoint."""
    from collections import defaultdict

    from dask_spark.operators.graph import pagerank

    raw = [(2, 1), (2, 3), (2, 3), (4, 3), (4, 5), (6, 1), (6, 1),
           (6, 7), (8, 7), (3, 2)]
    df = spark.createDataFrame([(a, b, 1) for a, b in raw],
                               "src bigint, dst bigint, w bigint")
    got = {r["node"]: r["rank"] for r in
           pagerank(df, iters=iters, scale=10 ** 9, symmetric=True,
                    weight_col="w", seed_fn=lambda n: n % 2 == 1)
           .to_spark().collect()}
    ew = defaultdict(int)
    for a, b in raw:
        ew[(a, b)] += 1
        ew[(b, a)] += 1
    seeds = {n for e in ew for n in e if n % 2 == 1}
    assert got == _weighted_pagerank_py(ew, seeds, iters, 10 ** 9)


@pytest.mark.parametrize("mode", [
    {},
    {"symmetric": True},
    {"symmetric": True, "weight_col": "w", "seed_fn": lambda n: n % 2 == 1},
], ids=["directed", "symmetric", "ppr"])
def test_pagerank_leaves_no_cache_entry(spark, mode):
    """pagerank caches with lazy checkpoints, not persist(): after the
    result is collected the session's cache manager is empty."""
    from dask_spark.operators.graph import pagerank

    edges = [(i, (i * 7 + 3) % 40, 1) for i in range(200)]
    df = spark.createDataFrame(edges, "src bigint, dst bigint, w bigint")
    spark.catalog.clearCache()
    pagerank(df, iters=3, **mode).to_spark().collect()
    cache = spark._jsparkSession.sharedState().cacheManager()
    assert cache.isEmpty()


def _jobs_graph(spark):
    edges = [(i, (i * 7 + 3) % 40) for i in range(200)]
    edges = [(a, b) for a, b in edges if a != b]
    return spark.createDataFrame(edges, "src bigint, dst bigint")


def test_pagerank_symmetric_job_count(spark):
    """A symmetric 3-round run on a fixed small graph runs at most 8
    Spark jobs. It was 15 when round 1 joined a persisted node table
    and the edges were persist()-cached, and 9 while the degree table
    was joined onto the deduplicated edges (three exchanges before the
    checkpoint instead of one). Jobs are counted by job-id range. The
    count is an upper bound because AQE varies it: most runs take 7
    jobs, and now and then AQE resubmits one small stage as an
    eighth."""
    from dask_spark.operators.graph import pagerank

    df = _jobs_graph(spark)
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    first = dag.numTotalJobs()
    pagerank(df, iters=3, symmetric=True).to_spark().collect()
    assert dag.numTotalJobs() - first <= 8


def test_pagerank_directed_job_count(spark):
    """Directed mode on the same graph also builds the node table:
    at most 14 jobs (13 measured; 15 with the three-exchange edge
    build)."""
    from dask_spark.operators.graph import pagerank

    df = _jobs_graph(spark)
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    first = dag.numTotalJobs()
    pagerank(df, iters=3).to_spark().collect()
    assert dag.numTotalJobs() - first <= 14


@pytest.mark.parametrize("mode", [
    {"symmetric": True},
    {"symmetric": True, "weight_col": "w", "seed_fn": lambda n: n % 2 == 1},
], ids=["symmetric", "ppr"])
def test_pagerank_build_job_count(spark, mode):
    """Under AQE a lazy checkpoint runs its subtree's shuffle stages
    when it is called, so building the edge table costs jobs before
    any action. One src-keyed exchange means at most one such job
    (three with the dedup, degree aggregate and degree join)."""
    import pyspark.sql.functions as F

    from dask_spark.operators.graph import pagerank

    df = _jobs_graph(spark).withColumn("w", F.lit(1).cast("bigint"))
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    first = dag.numTotalJobs()
    pagerank(df, iters=3, **mode)
    assert dag.numTotalJobs() - first <= 1


@pytest.mark.parametrize("mode", [
    {},
    {"symmetric": True},
    {"symmetric": True, "weight_col": "w", "seed_fn": lambda n: n % 2 == 1},
], ids=["directed", "symmetric", "ppr"])
def test_pagerank_shuffle_partitions_invariant(spark, mode):
    """Ranks are identical with 1 and with 16 shuffle partitions: the
    edge build's src exchange, the degree window and the in-sum are
    all order-free integer arithmetic."""
    from dask_spark.operators.graph import pagerank

    edges = [(i % 37, (i * 7 + 3) % 40, 1 + i % 3) for i in range(300)]
    df = spark.createDataFrame(edges, "src bigint, dst bigint, w bigint")
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    got = []
    try:
        for n in ("1", "16"):
            spark.conf.set(key, n)
            got.append(sorted(map(
                tuple, pagerank(df, iters=4, **mode).to_spark().collect()
            )))
    finally:
        spark.conf.set(key, old)
    assert got[0] == got[1]


def test_pagerank_weighted_hub_replay(spark):
    """A 300-leaf star with parallel edges, weighted and symmetrized:
    every hub–leaf pair merges to weight 2, so the hub's out-degree is
    one window summing 300 merged edges to 600, and every rank
    matches the integer replay exactly."""
    from collections import defaultdict

    from dask_spark.operators.graph import pagerank

    raw = [(0, i, 1) for i in range(1, 301)]
    raw += [(0, i, 1) for i in range(1, 301, 2)]  # parallel edges
    raw += [(i, 0, 1) for i in range(2, 301, 2)]  # already reversed
    df = spark.createDataFrame(raw, "src bigint, dst bigint, w bigint")
    got = {r["node"]: r["rank"] for r in
           pagerank(df, iters=4, scale=10 ** 9, symmetric=True,
                    weight_col="w").to_spark().collect()}
    ew = defaultdict(int)
    for a, b, w in raw:
        ew[(a, b)] += w
        ew[(b, a)] += w
    nodes = {n for e in ew for n in e}
    assert sum(w for (s, _), w in ew.items() if s == 0) == 600
    assert got == _weighted_pagerank_py(ew, nodes, 4, 10 ** 9)


@pytest.mark.parametrize("name", ["corpus_pagerank", "graph_ppr"])
def test_graph_rank_queries_match_oracle(spark, sf_dir, name):
    """The two pagerank registry queries equal their DuckDB oracles
    row for row (the same comparison scripts/verify_local.py runs)."""
    import duckdb

    from dask_spark.queries import REGISTRY
    from scripts.verify_local import compare

    fn, oracle = REGISTRY[name]
    con = duckdb.connect()
    con.sql(f"CREATE VIEW lineitem AS SELECT * FROM "
            f"'{sf_dir}/lineitem.parquet'")
    assert compare(fn(spark, sf_dir).toPandas(), con.sql(oracle).df()) is None


def test_scan_bytes_skips_leaves_without_stats(spark, sf_dir):
    """A leaf whose size is the defaultSizeInBytes sentinel (an
    RDD-backed frame) is already materialized and counts 0, so it no
    longer pushes a join with a parquet scan past the cache threshold;
    the parquet leaf still counts its file bytes."""
    from dask_spark.operators.graph import _scan_bytes

    rdd_df = spark.createDataFrame(
        spark.sparkContext.parallelize([(1, 2)]), "k bigint, v bigint")
    assert _scan_bytes(rdd_df) == 0
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet") \
        .selectExpr("l_orderkey AS k")
    assert 0 < _scan_bytes(li) < 1 << 40
    assert _scan_bytes(li.join(rdd_df, "k")) == _scan_bytes(li)


def test_scan_bytes_probe_failure_warns_once(monkeypatch, caplog):
    """A failing size probe answers 0 (no cache) and logs one warning
    on the dask_spark logger, not one per call."""
    from dask_spark.operators import graph

    class Broken:
        @property
        def _jdf(self):
            raise RuntimeError("no JVM")

    monkeypatch.setattr(graph, "_probe_warned", False)
    with caplog.at_level("WARNING", logger="dask_spark"):
        assert graph._scan_bytes(Broken()) == 0
        assert graph._scan_bytes(Broken()) == 0
    warned = [r for r in caplog.records if r.name == "dask_spark"]
    assert len(warned) == 1 and "RuntimeError" in warned[0].getMessage()


def test_stratified_cap_exact_selection(spark, tables):
    """stratified_cap keeps EXACTLY min(N_s, n) rows per group, and
    they are the n smallest (md5(id), id) keys — the deterministic
    domain-balancing contract."""
    import hashlib

    import pyspark.sql.functions as F

    from dask_spark.operators.mixing import stratified_cap

    d = tables["documents"]
    rows = d.to_spark().select("doc_id", "source").collect()
    by_src = {}
    for r in rows:
        by_src.setdefault(r["source"], []).append(r["doc_id"])
    n = 2
    exp = {
        s: set(sorted(ids, key=lambda i: (
            hashlib.md5(str(i).encode()).hexdigest(), i))[:n])
        for s, ids in by_src.items()
    }
    got = {}
    out = stratified_cap(d, group_col="source", n=n).to_spark().collect()
    for r in out:
        got.setdefault(r["source"], set()).add(r["doc_id"])
    assert got == exp
    with pytest.raises(ValueError):
        stratified_cap(d, n=0)


def test_trigram_lm_python_replay_and_bigram_salad(spark):
    """fit_trigram_lm vs a literal python replay (top-table discounts,
    per-context lambdas), and the gate's point: a text stitched from
    FLUENT BIGRAMS but with no three-word coherence scores worse than
    the original, while the bigram model rates both similarly."""
    import math
    from collections import Counter

    from dask_spark.functions.text import (
        fit_trigram_lm,
        with_bigram_perplexity,
        with_trigram_perplexity,
    )

    fluent = "the cat sat on the mat and the dog sat on the rug"
    # every adjacent pair below occurs in `fluent`, but no triple does
    # in this order: bigram-fluent, trigram-incoherent
    chain = "the mat and the rug the cat sat on the dog sat on the"
    rows = [(i, fluent) for i in range(40)] + [
        (100, chain), (101, "one two"), (102, "")]
    sdf = spark.createDataFrame(rows, "doc_id long, text string")

    D = 0.75
    lm = fit_trigram_lm(sdf, table_size=32, D=D,
                        vocab_size=16)
    # python replay of the trigram layer
    tris = []
    for _, txt in rows:
        w = txt.lower().split()
        tris += [(f"{a} {b}", c) for a, b, c in zip(w, w[1:], w[2:])]
    tc = Counter(tris)
    top = sorted(tc.items(), key=lambda kv: (-kv[1], kv[0]))[:32]
    ctxs = {ctx for (ctx, _), _ in top}
    c2 = Counter()
    n1p = Counter()
    for (ctx, w3), c in tc.items():
        if ctx in ctxs:
            c2[ctx] += c
            n1p[ctx] += 1
    exp_disc = {}
    for (ctx, w3), c in top:
        exp_disc.setdefault(ctx, {})[w3] = (float(c) - D) / float(c2[ctx])
    exp_lam = {ctx: D * float(n1p[ctx]) / float(c2[ctx]) for ctx in ctxs}
    assert lm.tri_disc == exp_disc
    assert lm.ctx_lambda == exp_lam

    out = {r["doc_id"]: r["ppl"]
           for r in with_trigram_perplexity(sdf, lm, out="ppl").collect()}
    assert out[101] == 1.0 and out[102] == 1.0  # <3 tokens
    assert out[100] > out[0] * 1.5, (out[100], out[0])
    bout = {r["doc_id"]: r["ppl"]
            for r in with_bigram_perplexity(sdf, lm.bigram, out="ppl")
            .collect()}
    # the bigram gate separates them far less than the trigram gate
    assert (bout[100] / bout[0]) < (out[100] / out[0])


def test_triangle_count_known_graphs(spark):
    """K4 (every node in C(3,2)=3 triangles), a 4-cycle (none), and a
    5-node bowtie (center in 2, wings in 1) — input given with
    duplicate and reversed edges to pin canonicalization."""
    from dask_spark.operators.graph import triangle_count

    def run(edges):
        df = spark.createDataFrame(edges, "a bigint, b bigint")
        return {r["node"]: r["triangles"]
                for r in triangle_count(df).to_spark().collect()}

    k4 = [(i, j) for i in range(4) for j in range(i + 1, 4)]
    # noise: reversed + duplicated edges must not change counts
    assert run(k4 + [(j, i) for i, j in k4] + k4[:2]) == {
        0: 3, 1: 3, 2: 3, 3: 3}
    assert run([(0, 1), (1, 2), (2, 3), (3, 0)]) == {}
    bowtie = [(0, 1), (1, 2), (0, 2), (2, 3), (3, 4), (2, 4)]
    assert run(bowtie) == {0: 1, 1: 1, 2: 2, 3: 1, 4: 1}


def test_funnel_strict_order_and_window(spark):
    """Strict-> chaining: a click BEFORE the first view does not
    count; ties on the same timestamp do not advance; within_seconds
    drops conversions outside the window; zero-user steps stay in
    the report with users=0."""
    from datetime import datetime as DT

    from dask_spark.operators.behavior import funnel, funnel_users

    rows = [
        # u1: clean view -> click -> purchase
        (1, "view", DT(2024, 1, 1, 10)), (1, "click", DT(2024, 1, 1, 11)),
        (1, "purchase", DT(2024, 1, 1, 12)),
        # u2: click precedes the first view -> stalls at view
        (2, "click", DT(2024, 1, 1, 9)), (2, "view", DT(2024, 1, 1, 10)),
        # u3: click at the SAME instant as view -> tie does not count
        (3, "view", DT(2024, 1, 1, 10)), (3, "click", DT(2024, 1, 1, 10)),
        # u4: converts but outside a 1h window
        (4, "view", DT(2024, 1, 1, 10)), (4, "click", DT(2024, 1, 1, 13)),
        # u5: never views -> not even step 1
        (5, "click", DT(2024, 1, 1, 10)),
    ]
    df = spark.createDataFrame(
        rows, "user_id bigint, event_type string, ts timestamp"
    )
    rep = {r["step"]: r["users"]
           for r in funnel(df, ["view", "click", "purchase"]).to_spark()
           .collect()}
    assert rep == {"view": 4, "click": 2, "purchase": 1}
    rep_w = {r["step"]: r["users"]
             for r in funnel(df, ["view", "click", "purchase"],
                             within_seconds=3600).to_spark().collect()}
    # u1's purchase lands at t1+2h, outside the 1h window; the click
    # at exactly t1+3600 is inclusive
    assert rep_w == {"view": 4, "click": 1, "purchase": 0}
    # a step nobody reaches stays in the report at 0
    rep_z = {r["step"]: r["users"]
             for r in funnel(df, ["view", "signup"]).to_spark().collect()}
    assert rep_z == {"view": 4, "signup": 0}
    depth = {r["user"]: r["max_step"]
             for r in funnel_users(df, ["view", "click", "purchase"])
             .to_spark().collect()}
    assert depth == {1: 3, 2: 1, 3: 1, 4: 2}


def test_cohort_retention_replay(spark):
    """cohort_retention vs a literal replay: Monday-anchored cohorts,
    integer week offsets, distinct-user counts."""
    from datetime import datetime as DT

    from dask_spark.operators.behavior import cohort_retention

    rows = [
        (1, DT(2024, 1, 2)),   # cohort Mon 2024-01-01
        (1, DT(2024, 1, 9)),   # week 1
        (1, DT(2024, 1, 10)),  # same week 1 (distinct collapses)
        (2, DT(2024, 1, 3)),   # cohort Mon 2024-01-01
        (2, DT(2024, 1, 17)),  # week 2
        (3, DT(2024, 1, 8)),   # cohort Mon 2024-01-08
    ]
    df = spark.createDataFrame(rows, "user_id bigint, ts timestamp")
    got = {(str(r["cohort_week"]), r["week_k"]): r["users"]
           for r in cohort_retention(df).to_spark().collect()}
    assert got == {
        ("2024-01-01", 0): 2,
        ("2024-01-01", 1): 1,
        ("2024-01-01", 2): 1,
        ("2024-01-08", 0): 1,
    }
    got_cap = {(str(r["cohort_week"]), r["week_k"]): r["users"]
               for r in cohort_retention(df, max_weeks=1).to_spark().collect()}
    assert set(got_cap) == {("2024-01-01", 0), ("2024-01-01", 1),
                            ("2024-01-08", 0)}


def test_transition_matrix_replay(spark):
    """transition_matrix vs a literal replay, with a timestamp tie
    broken by event_id and per-from probabilities summing to 1."""
    from datetime import datetime as DT

    from dask_spark.operators.behavior import transition_matrix

    rows = [
        (1, 1, "a", DT(2024, 1, 1, 10)),
        (2, 1, "b", DT(2024, 1, 1, 11)),
        (3, 1, "a", DT(2024, 1, 1, 12)),
        # tie at 12:00 for user 2: event_id orders c before d
        (4, 2, "c", DT(2024, 1, 1, 12)),
        (5, 2, "d", DT(2024, 1, 1, 12)),
        (6, 3, "a", DT(2024, 1, 1, 9)),   # single event: no pair
    ]
    df = spark.createDataFrame(
        rows, "event_id bigint, user_id bigint, event_type string, "
              "ts timestamp"
    )
    got = {(r["from_type"], r["to_type"]): (r["cnt"], r["prob"])
           for r in transition_matrix(df).to_spark().collect()}
    assert got == {("a", "b"): (1, 1.0), ("b", "a"): (1, 1.0),
                   ("c", "d"): (1, 1.0)}


def test_association_rules_replay(spark):
    """association_rules vs hand-computed supports on four baskets,
    including duplicate (basket, item) rows that must collapse and
    the min-support gate."""
    from dask_spark.operators.assoc import association_rules

    rows = [
        (1, "x"), (1, "y"), (1, "y"),        # dup item collapses
        (2, "x"), (2, "y"), (2, "z"),
        (3, "x"), (3, "z"),
        (4, "z"),
    ]
    df = spark.createDataFrame(rows, "basket bigint, item string")
    got = {(r["antecedent"], r["consequent"]):
           (r["support"], r["confidence"], r["lift"])
           for r in association_rules(df, min_support=2).to_spark()
           .collect()}
    # supports: x=3, y=2, z=3, n=4; xy=2, xz=2, yz=1 (below min)
    assert got == {
        ("x", "y"): (2, round(2 / 3, 6), round(2 / 3 * 4 / 2, 6)),
        ("y", "x"): (2, 1.0, round(1.0 * 4 / 3, 6)),
        ("x", "z"): (2, round(2 / 3, 6), round(2 / 3 * 4 / 3, 6)),
        ("z", "x"): (2, round(2 / 3, 6), round(2 / 3 * 4 / 3, 6)),
    }
    empty = spark.createDataFrame([], "basket bigint, item string")
    assert association_rules(empty).to_spark().count() == 0


def test_pagerank_weighted_and_personalized(spark):
    """Weighted + seeded pagerank vs a literal integer replay:
    parallel edges sum their weights, contributions split as
    (r*w) // wsum, teleport and initial mass land only on seeds."""
    from collections import defaultdict

    from dask_spark.operators.graph import pagerank

    raw = [(1, 2, 1), (1, 2, 2), (1, 3, 1), (2, 3, 5), (3, 1, 1),
           (4, 1, 3)]
    seeds = {1, 3}
    df = spark.createDataFrame(raw, "src bigint, dst bigint, w bigint")
    got = {r["node"]: r["rank"] for r in
           pagerank(df, iters=4, scale=10 ** 9, weight_col="w",
                    seed_fn=lambda n: n.isin([1, 3]))
           .to_spark().collect()}

    scale, num, den = 10 ** 9, 85, 100
    tele = scale * (den - num) // den
    ew = defaultdict(int)
    for s, d, w in raw:
        ew[(s, d)] += w
    wsum = defaultdict(int)
    for (s, _), w in ew.items():
        wsum[s] += w
    nodes = sorted({n for e in ew for n in e})
    r = {n: (scale if n in seeds else 0) for n in nodes}
    for _ in range(4):
        acc = defaultdict(int)
        for (s, d), w in ew.items():
            acc[d] += (r[s] * w) // wsum[s]
        r = {n: (tele if n in seeds else 0) + (num * acc[n]) // den
             for n in nodes}
    assert got == r


def test_clustering_coefficient_known_graphs(spark):
    """K4: every node cc=1; bowtie: wings 1.0, center 2*2/(4*3);
    a path endpoint (deg 1) scores 0 by contract."""
    from dask_spark.operators.graph import clustering_coefficient

    edges = ([(0, 1), (1, 2), (0, 2), (2, 3), (3, 4), (2, 4)]  # bowtie
             + [(4, 5)])                                        # tail
    df = spark.createDataFrame(edges, "a bigint, b bigint")
    got = {r["node"]: (r["deg"], r["triangles"], r["cc"])
           for r in clustering_coefficient(df).to_spark().collect()}
    assert got[0] == (2, 1, 1.0)
    assert got[1] == (2, 1, 1.0)
    assert got[2] == (4, 2, round(4 / 12, 6))
    assert got[3] == (2, 1, 1.0)
    assert got[4] == (3, 1, round(2 / 6, 6))
    assert got[5] == (1, 0, 0.0)


def test_k_core_known_graphs(spark):
    """K4 with a pendant tail: the 3-core is exactly the K4 nodes at
    in-core degree 3; a cycle has a 2-core but no 3-core; fixed
    rounds (past peel depth) == convergence mode."""
    from dask_spark.operators.graph import k_core

    k4 = [(i, j) for i in range(4) for j in range(i + 1, 4)]
    tail = [(3, 4), (4, 5)]
    df = spark.createDataFrame(k4 + tail, "a bigint, b bigint")
    got = {r["node"]: r["core_deg"]
           for r in k_core(df, k=3).to_spark().collect()}
    assert got == {0: 3, 1: 3, 2: 3, 3: 3}
    fixed = {r["node"]: r["core_deg"]
             for r in k_core(df, k=3, rounds=6).to_spark().collect()}
    assert fixed == got
    cyc = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 0)], "a bigint, b bigint"
    )
    assert k_core(cyc, k=2).to_spark().count() == 4
    assert k_core(cyc, k=3).to_spark().count() == 0
    with pytest.raises(ValueError):
        k_core(cyc, k=0)


def test_peak_concurrency_sweep(spark):
    """Hand-built intervals: three overlapping events peak at 3; an
    event starting exactly at another's expiry does NOT overlap it
    (half-open windows — the expiry releases first); days split."""
    from datetime import datetime as DT

    from dask_spark.operators.behavior import peak_concurrency

    rows = [
        (1, DT(2024, 1, 1, 10, 0)),
        (2, DT(2024, 1, 1, 10, 10)),
        (3, DT(2024, 1, 1, 10, 20)),   # all three open at 10:20
        (4, DT(2024, 1, 1, 10, 30)),   # starts exactly at #1's expiry
        (5, DT(2024, 1, 2, 9, 0)),     # separate day
    ]
    df = spark.createDataFrame(rows, "event_id bigint, ts timestamp")
    got = {r["day"]: r["peak"]
           for r in peak_concurrency(df, window_seconds=1800)
           .to_spark().collect()}
    assert got == {"2024-01-01": 3, "2024-01-02": 1}


def test_length_outliers_mad_gate(spark):
    """Known median/MAD on one group; a MAD=0 (constant-majority)
    group flags nothing by contract."""
    from dask_spark.operators.behavior import length_outliers

    rows = (
        [(i, "a", v) for i, v in enumerate([10, 12, 14, 16, 100])]
        # group b: >half identical => MAD 0 => no outliers
        + [(10 + i, "b", v) for i, v in enumerate([5, 5, 5, 900])]
    )
    df = spark.createDataFrame(rows, "doc_id bigint, source string, "
                                     "n_chars bigint")
    out = {r["doc_id"]: r for r in
           length_outliers(df).to_spark().collect()}
    # group a: median 14, deviations [4,2,0,2,86], MAD 2 => only 100
    # exceeds 3*2
    assert out[4]["is_outlier"] and out[4]["med"] == 14.0 \
        and out[4]["mad"] == 2.0
    assert not any(out[i]["is_outlier"] for i in range(4))
    assert all(not out[10 + i]["is_outlier"] for i in range(4))
    assert out[13]["mad"] == 0.0


def test_pmi_bigrams_replay(spark):
    """pmi_bigrams vs a literal replay: counts, the pinned pmi
    expression, min-count gate, and that a glued pair out-scores a
    chance pair."""
    import math
    from collections import Counter

    from dask_spark.functions.text import pmi_bigrams

    # "zx qv" always glued; "the" pairs with everything
    docs = [(i, "the zx qv the a" if i % 2 else "the a zx qv the")
            for i in range(20)]
    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    got = {r["bigram"]: (r["n"], r["pmi"])
           for r in pmi_bigrams(df, min_count=5, topk=50).collect()}
    toks, pairs = [], []
    for _, t in docs:
        w = t.split()
        toks += w
        pairs += list(zip(w, w[1:]))
    uc, pc = Counter(toks), Counter(pairs)
    nt, np_ = len(toks), len(pairs)
    exp = {}
    for (x, y), c in pc.items():
        if c >= 5:
            exp[f"{x} {y}"] = (c, round(
                math.log((c * float(nt) * float(nt))
                         / (float(np_) * uc[x] * uc[y])), 6))
    assert got == dict(sorted(exp.items(),
                              key=lambda kv: (-kv[1][1], kv[0]))[:50])
    assert got["zx qv"][1] > got["the a"][1]


def test_psi_drift_replay_and_sensitivity(spark):
    """psi_drift vs a literal replay on hand-built samples; identical
    distributions score ~0, a location shift scores large; empty
    sides raise the contract error."""
    import math

    from dask_spark.operators.monitor import psi_drift

    ref_vals = [float(v) for v in range(100)]
    same = [float(v) for v in range(100)]
    shifted = [float(v) + 60.0 for v in range(100)]
    mk = lambda vs: spark.createDataFrame([(v,) for v in vs], "x double")

    def replay(rv, cv, B=10):
        mn, mx = min(rv), max(rv)
        width = (mx - mn) / B
        bkt = lambda x: min(max(math.floor((x - mn) / width), 0), B - 1)
        rc, cc = {}, {}
        for x in rv: rc[bkt(x)] = rc.get(bkt(x), 0) + 1
        for x in cv: cc[bkt(x)] = cc.get(bkt(x), 0) + 1
        psi = 0.0
        for i in range(B):
            p = (rc.get(i, 0) + 0.5) / (len(rv) + 0.5 * B)
            q = (cc.get(i, 0) + 0.5) / (len(cv) + 0.5 * B)
            psi = psi + (p - q) * math.log(p / q)
        return round(psi, 6)

    low = psi_drift(mk(ref_vals), mk(same), "x", bins=10) \
        .to_spark().first()
    assert low["psi"] == replay(ref_vals, same)
    assert low["psi"] < 0.01 and low["n_ref"] == 100
    hi = psi_drift(mk(ref_vals), mk(shifted), "x", bins=10) \
        .to_spark().first()
    assert hi["psi"] == replay(ref_vals, shifted)
    assert hi["psi"] > 0.25
    with pytest.raises(ValueError, match="empty"):
        psi_drift(mk([]), mk(same), "x")
    with pytest.raises(ValueError, match="bins"):
        psi_drift(mk(ref_vals), mk(same), "x", bins=1)


def test_ks_drift_exact_replay(spark):
    """ks_drift vs scipy-free literal replay on small samples with
    ties and disjoint supports: identical samples D=0; fully
    disjoint D=1; a known interleaving matches the exact rational."""
    from dask_spark.operators.monitor import ks_drift

    mk = lambda vs: spark.createDataFrame([(float(v),) for v in vs],
                                          "x double")

    def replay(a, b):
        pts = sorted(set(a) | set(b))
        r1 = r2 = 0
        best = 0
        for v in pts:
            r1 += sum(1 for t in a if t == v)
            r2 += sum(1 for t in b if t == v)
            best = max(best, abs(r1 * len(b) - r2 * len(a)))
        return best

    a = [1, 2, 2, 3, 5, 8, 8, 9]
    b = [2, 3, 3, 4, 4, 7, 10]
    row = ks_drift(mk(a), mk(b), "x").to_spark().first()
    assert row["d_num"] == replay(a, b)
    assert row["d_stat"] == round(replay(a, b) / (len(a) * len(b)), 6)
    same = ks_drift(mk(a), mk(a), "x").to_spark().first()
    assert same["d_stat"] == 0.0
    disj = ks_drift(mk([1, 2, 3]), mk([10, 11]), "x").to_spark().first()
    assert disj["d_stat"] == 1.0
    with pytest.raises(ValueError, match="empty"):
        ks_drift(mk([]), mk(a), "x")


def test_chi2_drift_replay(spark):
    """chi2_drift vs a literal contingency replay; identical mixes
    score 0; categories exclusive to one side are handled; empty
    raises the contract error."""
    from dask_spark.operators.monitor import chi2_drift

    mk = lambda vs: spark.createDataFrame([(v,) for v in vs], "k string")
    ref = ["a"] * 50 + ["b"] * 30 + ["c"] * 20
    cur = ["a"] * 20 + ["b"] * 50 + ["d"] * 30

    def replay(rv, cv):
        from collections import Counter
        rc, cc = Counter(rv), Counter(cv)
        n1, n2 = len(rv), len(cv)
        n = float(n1 + n2)
        chi2 = 0.0
        for k in sorted(set(rc) | set(cc)):
            row = float(rc[k] + cc[k])
            e1, e2 = row * n1 / n, row * n2 / n
            d1, d2 = rc[k] - e1, cc[k] - e2
            chi2 = chi2 + ((d1 * d1) / e1 + (d2 * d2) / e2)
        return round(chi2, 6), len(set(rc) | set(cc)) - 1

    row = chi2_drift(mk(ref), mk(cur), "k").to_spark().first()
    exp_chi2, exp_dof = replay(ref, cur)
    assert row["chi2"] == exp_chi2 and row["dof"] == exp_dof
    assert row["n_ref"] == 100 and row["n_cur"] == 100
    same = chi2_drift(mk(ref), mk(ref), "k").to_spark().first()
    assert same["chi2"] == 0.0
    with pytest.raises(ValueError, match="empty"):
        chi2_drift(mk([]), mk(ref), "k")


def test_cusum_detects_level_shift(spark):
    """A flat series with a sustained late level shift: the statistic
    stays near zero before the shift and alarms after it; the
    python recurrence replay matches exactly."""
    import math
    from datetime import datetime as DT, timedelta

    from dask_spark.operators.monitor import cusum_alarms

    # 20 days at 10 events/day, then 10 days at 30
    rows, eid = [], 0
    for d in range(30):
        n = 10 if d < 20 else 30
        for _ in range(n):
            rows.append((eid, DT(2024, 1, 1) + timedelta(days=d)))
            eid += 1
    df = spark.createDataFrame(rows, "event_id bigint, ts timestamp")
    out = {r["day"]: r for r in
           cusum_alarms(df, slack=0.5, threshold=5.0)
           .to_spark().collect()}
    assert len(out) == 30

    # literal replay (scaled-int recurrence)
    xs = [10] * 20 + [30] * 10
    nd = len(xs)
    mu = float(sum(xs)) / nd
    m2 = float(sum(v * v for v in xs)) / nd
    sd = math.sqrt(m2 - mu * mu)
    drift6 = int(math.floor((mu + 0.5 * sd) * 1_000_000 + 0.5))
    h6 = int(math.floor(5.0 * sd * 1_000_000 + 0.5))
    s = 0
    for d, x in enumerate(xs):
        s = max(0, s + x * 1_000_000 - drift6)
        day = (DT(2024, 1, 1) + timedelta(days=d)).strftime("%Y-%m-%d")
        assert out[day]["stat"] == round(s / 1_000_000.0, 6), day
        assert out[day]["alarm"] == (s > h6), day
    assert not out["2024-01-15"]["alarm"]
    assert out["2024-01-30"]["alarm"]


def test_frequent_triples_apriori(spark):
    """frequent_triples vs a brute-force replay on hand-built baskets
    — the downward-closure prune must not lose any qualifying triple,
    and a triple whose pair support fails the floor is excluded even
    if the triple count itself would pass (impossible by closure, so
    assert equality with brute force instead)."""
    from collections import Counter
    from itertools import combinations

    from dask_spark.operators.assoc import frequent_triples

    baskets = {
        1: ["a", "b", "c", "d"],
        2: ["a", "b", "c"],
        3: ["a", "b", "d"],
        4: ["b", "c", "d"],
        5: ["a", "c"],
        6: ["x", "y"],
    }
    rows = [(b, i) for b, items in baskets.items() for i in items]
    df = spark.createDataFrame(rows, "basket bigint, item string")
    got = {(r["x"], r["y"], r["z"]): r["support"]
           for r in frequent_triples(df, min_support=2)
           .to_spark().collect()}
    brute = Counter()
    for items in baskets.values():
        for t in combinations(sorted(set(items)), 3):
            brute[t] += 1
    exp = {t: c for t, c in brute.items() if c >= 2}
    assert got == exp and len(exp) > 0


def test_hll_set_estimates_algebra(spark):
    """Union sketch == the sketch of the concatenated input (register
    max IS the HLL merge), disjoint sets give est_intersect ~ 0 and
    identical sets give est_intersect == est_a == est_union; the
    inclusion-exclusion clamp never goes negative."""
    from dask_spark.operators.sketch import (hll_count_distinct,
                                             hll_set_estimates)

    a = spark.createDataFrame([(i,) for i in range(300)], "v int")
    b = spark.createDataFrame([(i,) for i in range(200, 500)], "v int")

    row = hll_set_estimates(a, b, "v", p=8).to_spark().first()
    both = hll_count_distinct(a.unionAll(b), "v", p=8).to_spark().first()
    assert row["est_union"] == both["est_distinct"]
    assert row["est_intersect"] >= 0.0
    assert row["est_intersect"] == round(
        row["est_a"] + row["est_b"] - row["est_union"], 6
    )
    # ~100/500 true overlap: the p=8 estimate should land in the
    # right neighbourhood (rel err of each component <= ~2/sqrt(256))
    assert 40 <= row["est_intersect"] <= 160

    same = hll_set_estimates(a, a, "v", p=8).to_spark().first()
    assert same["est_a"] == same["est_b"] == same["est_union"]
    assert same["est_intersect"] == same["est_a"]

    disj = hll_set_estimates(
        a, spark.createDataFrame([(i,) for i in range(10_000, 10_300)],
                                 "v int"),
        "v", p=8,
    ).to_spark().first()
    assert disj["est_intersect"] <= 60.0


def test_hll_set_estimates_cross_column(spark):
    """value_col_b maps a differently-named key on the B side onto
    the same digest space, so identical key SETS estimate as
    identical regardless of column name."""
    from dask_spark.operators.sketch import hll_set_estimates

    a = spark.createDataFrame([(i,) for i in range(256)], "u int")
    b = spark.createDataFrame([(i,) for i in range(256)], "w int")
    row = hll_set_estimates(a, b, "u", value_col_b="w", p=7
                            ).to_spark().first()
    assert row["est_a"] == row["est_b"] == row["est_union"]


def test_ewma_smooth_python_replay(spark):
    """The in-row EWMA fold reproduces the sequential recursion
    bit-for-bit, seeds y_0 = x_0, and daily means come from exact
    micro-unit sums."""
    import datetime as dt

    from dask_spark.operators.monitor import ewma_smooth

    rows = []
    vals = {}
    for d in range(5):
        day = dt.datetime(2024, 1, 1 + d, 12, 0, 0)
        for j, v in enumerate([1.25, 2.5, 3.125][: d + 1]):
            rows.append(("a", day, v + d))
            vals.setdefault(d, []).append(v + d)
    df = spark.createDataFrame(
        rows, "event_type string, ts timestamp, value double"
    )
    out = {
        r["day"]: (r["x"], r["ewma"])
        for r in ewma_smooth(df, alpha=0.3).to_spark().collect()
    }

    def r6(v):  # Spark F.round / DuckDB round are decimal HALF_UP
        import decimal

        return float(
            decimal.Decimal(repr(v)).quantize(
                decimal.Decimal("0.000001"),
                rounding=decimal.ROUND_HALF_UP,
            )
        )

    y = None
    for d in range(5):
        xs = vals[d]
        s6 = sum(int((round(v, 6) * 1_000_000) + 0.5) for v in xs)
        x = float(s6) / float(len(xs)) / 1_000_000.0
        y = x if y is None else 0.3 * x + 0.7 * y
        day = f"2024-01-{1 + d:02d}"
        assert out[day] == (r6(x), r6(y))


def test_ewma_smooth_groups_independent_and_validated(spark):
    """Each group's recursion is independent; null ts/value rows drop;
    alpha outside (0, 1] raises."""
    import datetime as dt

    import pytest

    from dask_spark.operators.monitor import ewma_smooth

    t0 = dt.datetime(2024, 3, 1)
    df = spark.createDataFrame(
        [
            ("a", t0, 10.0),
            ("b", t0, 100.0),
            ("a", t0 + dt.timedelta(days=1), 20.0),
            ("b", t0 + dt.timedelta(days=1), 200.0),
            ("a", None, 999.0),
            ("a", t0, None),
        ],
        "event_type string, ts timestamp, value double",
    )
    rows = ewma_smooth(df, alpha=0.5).to_spark().collect()
    got = {(r["event_type"], r["day"]): r["ewma"] for r in rows}
    assert got == {
        ("a", "2024-03-01"): 10.0,
        ("a", "2024-03-02"): 15.0,
        ("b", "2024-03-01"): 100.0,
        ("b", "2024-03-02"): 150.0,
    }
    for bad in (0.0, -0.1, 1.5):
        with pytest.raises(ValueError, match="alpha"):
            ewma_smooth(df, alpha=bad)


def test_nb_fit_predict_separates_classes(spark):
    """NB trained on two disjoint vocabularies routes held-out docs
    to the right class; token-less docs fall back to the prior
    argmax; model shapes are C x D with labels sorted."""
    from dask_spark.functions.text import hashed_nb_fit, hashed_nb_predict

    rows = [("spam " * 5 + "offer win", "spam") for _ in range(6)]
    rows += [("meeting notes agenda review", "ham") for _ in range(4)]
    df = spark.createDataFrame(rows, "text string, y string")
    m = hashed_nb_fit(df, "y", n_features=32)
    assert m.labels == ["ham", "spam"]
    assert len(m.logliks) == 2 and len(m.logliks[0]) == 32
    import math

    assert abs(math.exp(m.log_priors[0]) - 0.4) < 1e-12

    test = spark.createDataFrame(
        [("win offer spam",), ("agenda meeting",), ("",)],
        "text string",
    )
    out = hashed_nb_predict(test, m).collect()
    assert out[0]["pred"] == "spam"
    assert out[1]["pred"] == "ham"
    # empty doc: score = max prior, spam (p=.6) wins
    assert out[2]["pred"] == "spam"
    assert out[2]["score"] == round(
        __import__("math").log(0.6), 6
    )


def test_nb_python_replay_exact(spark):
    """The plan-literal fold reproduces a python replay of the
    sorted-feature score chain bit-for-bit (same md5 hash, same
    addition order)."""
    import hashlib
    import math

    from dask_spark.functions.text import hashed_nb_fit, hashed_nb_predict

    rows = [("alpha beta gamma", "a"), ("beta beta delta", "a"),
            ("omega psi chi", "b"), ("psi psi omega", "b")]
    df = spark.createDataFrame(rows, "text string, y string")
    D = 16
    m = hashed_nb_fit(df, "y", n_features=D)

    def h(tok):
        return int(hashlib.md5(tok.encode()).hexdigest()[:15], 16) % D

    # replay the fit
    cnt, tot, pri = {}, {"a": 0, "b": 0}, {"a": 2, "b": 2}
    for text, y in rows:
        for t in text.split():
            cnt[(y, h(t))] = cnt.get((y, h(t)), 0) + 1
            tot[y] += 1
    for ci, lbl in enumerate(["a", "b"]):
        assert m.log_priors[ci] == math.log(pri[lbl] / 4.0)
        for f in range(D):
            want = math.log((cnt.get((lbl, f), 0) + 1.0) / (tot[lbl] + D))
            assert m.logliks[ci][f] == want

    out = hashed_nb_predict(df, m).collect()
    for r, (text, y) in zip(out, rows):
        feats = sorted(h(t) for t in text.split())
        best = None
        for ci, lbl in enumerate(["a", "b"]):
            s = m.log_priors[ci]
            for f in feats:
                s = s + m.logliks[ci][f]
            if best is None or s > best[1]:
                best = (lbl, s)
        assert r["pred"] == best[0]
        assert r["pred"] == y


def test_modularity_two_cliques(spark):
    """Two triangles joined by one bridge edge under the natural
    partition: m=7, each community has e_c=3 internal edges and
    degree sum 7 -> contribution = 3/7 - (7/14)^2 = 0.178571; the
    total Q = 0.357143 ~ the strong-community regime. Assigning ALL
    nodes one community gives Q = 0 exactly (e_c = m, D_c = 2m)."""
    from dask_spark.operators.graph import modularity

    edges = [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4)]
    e = spark.createDataFrame(edges, "a bigint, b bigint")
    coms = spark.createDataFrame(
        [(n, "left" if n <= 3 else "right") for n in range(1, 7)],
        "node bigint, community string",
    )
    rows = {r["community"]: r for r in
            modularity(e, coms).to_spark().collect()}
    for c in ("left", "right"):
        assert rows[c]["n_nodes"] == 3
        assert rows[c]["internal_edges"] == 3
        assert rows[c]["degree_sum"] == 7
        assert rows[c]["contribution"] == round(3 / 7 - (7 / 14) ** 2, 6)

    allone = spark.createDataFrame(
        [(n, "all") for n in range(1, 7)], "node bigint, community string"
    )
    q = modularity(e, allone).to_spark().collect()[0]
    assert q["contribution"] == 0.0


def test_jaccard_similarity_square_with_diagonal(spark):
    """Square 1-2-3-4 plus diagonal 1-3: nodes 2 and 4 share exactly
    {1, 3} and have degree 2 each -> jaccard = 2/(2+2-2) = 1.0; the
    hub cap drops pairs whose ONLY shared neighbors are hubs."""
    from dask_spark.operators.graph import jaccard_similarity

    e = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 1), (1, 3)], "a bigint, b bigint"
    )
    rows = {(r["x"], r["y"]): r for r in
            jaccard_similarity(e).to_spark().collect()}
    r24 = rows[(2, 4)]
    assert (r24["common"], r24["deg_x"], r24["deg_y"]) == (2, 2, 2)
    assert r24["jaccard"] == 1.0
    # 1 and 3 share {2, 4}: deg 3 each -> 2/(3+3-2) = 0.5
    assert rows[(1, 3)]["jaccard"] == 0.5

    # cap out the degree-3 centers 1 and 3: pair (2,4) loses both
    # shared neighbors and disappears; (1,3) keeps centers 2 and 4
    capped = {(r["x"], r["y"]): r for r in jaccard_similarity(
        e, max_center_degree=2).to_spark().collect()}
    assert (2, 4) not in capped
    assert capped[(1, 3)]["common"] == 2


def test_jl_project_numpy_parity_and_distance_preservation(spark):
    """jl_project == numpy X @ W.T (L2R fold tolerance), is seed-
    deterministic, and roughly preserves pairwise distances (the JL
    guarantee, loose 3x band at k=16)."""
    import numpy as np

    from dask_spark.functions.vector import (jl_gaussian_matrix,
                                             jl_project)

    rng = np.random.RandomState(0)
    X = rng.randn(40, 32).astype("float32")
    df = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(40)],
        "vec_id bigint, embedding array<float>",
    )
    k = 16
    out = jl_project(df, dim=32, k=k, seed=11, round_dp=None) \
        .to_spark().orderBy("vec_id").toPandas()
    W = np.array(jl_gaussian_matrix(32, k, 11))
    P = X.astype("float64") @ W.T
    got = out[[f"jl{j}" for j in range(k)]].to_numpy()
    assert np.allclose(got, P, rtol=1e-9, atol=1e-9)

    # determinism + distance preservation on a few pairs
    out2 = jl_project(df, dim=32, k=k, seed=11, round_dp=None) \
        .to_spark().orderBy("vec_id").toPandas()
    assert (out.to_numpy() == out2.to_numpy()).all()
    for i, j in [(0, 1), (5, 9), (20, 33)]:
        d_hi = np.linalg.norm(X[i].astype("float64") - X[j])
        d_lo = np.linalg.norm(got[i] - got[j])
        assert d_hi / 3 <= d_lo <= d_hi * 3


def test_linear_trend_numpy_parity_and_degenerates(spark):
    """slope/intercept/r2 match numpy polyfit/corrcoef on a known
    daily series; a single-day group yields null slope/intercept/r2
    and a zero-variance-y group yields slope 0 with null r2."""
    import datetime as dt

    import numpy as np

    from dask_spark.operators.monitor import linear_trend

    rows = []
    counts = [3, 5, 4, 8, 9, 13, 12]
    for d, c in enumerate(counts):
        for i in range(c):
            rows.append(("grow", dt.datetime(2024, 1, 1 + d, 8, i)))
    rows.append(("single", dt.datetime(2024, 1, 1)))
    for d in range(3):
        rows.append(("flat", dt.datetime(2024, 2, 1 + d)))
    df = spark.createDataFrame(rows, "event_type string, ts timestamp")

    out = {r["event_type"]: r for r in linear_trend(df).to_spark().collect()}

    x = np.array([(dt.date(2024, 1, 1 + d) - dt.date(1970, 1, 1)).days
                  for d in range(7)], dtype=float)
    y = np.array(counts, dtype=float)
    slope, intercept = np.polyfit(x, y, 1)
    r2 = np.corrcoef(x, y)[0, 1] ** 2
    g = out["grow"]
    assert g["n_days"] == 7
    assert abs(g["slope"] - slope) < 1e-6
    assert abs(g["intercept"] - intercept) < 1e-4
    assert abs(g["r2"] - r2) < 1e-6

    s = out["single"]
    assert s["n_days"] == 1
    assert s["slope"] is None and s["intercept"] is None and s["r2"] is None

    f = out["flat"]
    assert f["slope"] == 0.0 and f["r2"] is None


def test_weighted_quantiles_exact_semantics(spark):
    """Weighted median = smallest value whose cumulative weight
    reaches ceil(q*W); keyless and keyed paths agree; zero/negative/
    null weights drop; a dominant weight pins every quantile."""
    import pytest

    from dask_spark.operators.reductions import weighted_quantiles

    df = spark.createDataFrame(
        [("a", 1.0, 1.0), ("a", 2.0, 1.0), ("a", 3.0, 8.0),
         ("a", 4.0, 0.0), ("a", 5.0, None),
         ("b", 10.0, 3.0), ("b", 20.0, 1.0)],
        "g string, v double, w double",
    )
    keyed = {r["g"]: r for r in weighted_quantiles(
        df, "v", "w", qs=(0.5, 0.75), group_cols=["g"]
    ).to_spark().collect()}
    # group a: weights 1,1,8 -> W=10; ceil(.5*10)=5 -> v=3 (cum 1,2,10)
    assert keyed["a"]["wq_5"] == 3.0 and keyed["a"]["wq_75"] == 3.0
    # group b: W=4; ceil(2)=2 -> 10 (cum 3); ceil(3)=3 -> 10
    assert keyed["b"]["wq_5"] == 10.0 and keyed["b"]["wq_75"] == 10.0

    solo = weighted_quantiles(
        df.filter("g = 'a'"), "v", "w", qs=(0.5,)
    ).to_spark().first()
    assert solo["wq_5"] == keyed["a"]["wq_5"]

    with pytest.raises(ValueError, match="quantiles"):
        weighted_quantiles(df, "v", "w", qs=(0.0,))


def test_validate_rules_exact_counts(spark):
    """Each rule kind counts exactly: presence, band (nulls skip),
    expr (null predicate = violation), domain, regex, uniqueness
    (extra copies), FK (non-null misses); duplicate names and empty
    rule lists raise."""
    import pytest

    from dask_spark.operators.quality import validate

    df = spark.createDataFrame(
        [(1, 10.0, "A", "ok1"), (1, 60.0, "A", "bad"),
         (2, None, "B", "ok2"), (3, 5.0, "Z", None),
         (3, 5.0, "A", "ok3")],
        "k bigint, v double, flag string, tag string",
    )
    ref = spark.createDataFrame([(1,), (2,)], "rk bigint")
    rules = [
        {"rule": "not_null", "name": "v_present", "col": "v"},
        {"rule": "in_range", "name": "v_band", "col": "v",
         "min": 0, "max": 50},
        {"rule": "expr", "name": "v_pos", "expr": "v > 0"},
        {"rule": "in_set", "name": "flag_dom", "col": "flag",
         "values": ["A", "B"]},
        {"rule": "regex_match", "name": "tag_shape", "col": "tag",
         "pattern": "^ok[0-9]$"},
        {"rule": "unique", "name": "k_unique", "cols": ["k"]},
        {"rule": "ref_integrity", "name": "k_fk", "col": "k",
         "ref": ref, "ref_col": "rk"},
    ]
    rows = validate(df, rules).to_spark().collect()
    got = {r["rule"]: (r["n_checked"], r["n_violations"],
                       r["violation_rate"]) for r in rows}
    assert [r["rule"] for r in rows] == [r["name"] for r in rules]
    assert got["v_present"] == (5, 1, 0.2)
    assert got["v_band"] == (4, 1, 0.25)       # null v skipped
    assert got["v_pos"] == (5, 1, 0.2)         # null predicate fails
    assert got["flag_dom"] == (5, 1, 0.2)
    assert got["tag_shape"] == (4, 1, 0.25)    # null tag skipped
    assert got["k_unique"] == (5, 2, 0.4)      # two extra copies
    assert got["k_fk"] == (5, 2, 0.4)          # two k=3 rows miss

    with pytest.raises(ValueError, match="duplicate"):
        validate(df, [rules[0], dict(rules[0])])
    with pytest.raises(ValueError, match="empty"):
        validate(df, [])


def test_fuzzy_name_pairs_semantics(spark):
    """Blocking on the head noun, the length filter, and the
    levenshtein threshold: 'cold widget'~'bold widget' (d=1) pairs,
    cross-block 'cold widget'/'cold bolt' never pairs, counts carry
    multiplicities, and max_distance=0 finds only exact-name pairs
    (none after the distinct collapse)."""
    import pytest

    from dask_spark.operators.dedup import fuzzy_name_pairs

    df = spark.createDataFrame(
        [("cold widget",), ("cold widget",), ("bold widget",),
         ("cold bolt",), ("giant widget",), (None,)],
        "name string",
    )
    rows = {(r["name_a"], r["name_b"]): r for r in fuzzy_name_pairs(
        df, "name", max_distance=2).to_spark().collect()}
    key = ("bold widget", "cold widget")
    assert key in rows
    assert rows[key]["distance"] == 1
    assert rows[key]["count_a"] == 1 and rows[key]["count_b"] == 2
    assert all(a.endswith("widget") and b.endswith("widget")
               for a, b in rows)  # blocking: no cross-block pair
    assert ("cold widget", "giant widget") not in rows  # d=4 > 2

    none = fuzzy_name_pairs(df, "name", max_distance=0) \
        .to_spark().collect()
    assert none == []
    with pytest.raises(ValueError, match="max_distance"):
        fuzzy_name_pairs(df, "name", max_distance=-1)


def test_bfs_hops_known_graph(spark):
    """Path 1-2-3-4-5 plus chord 1-3: BFS from 1 gives dists
    0,1,1,2,3 (the chord shortcuts 3); rounds cap truncates the
    frontier; disconnected node 99 never appears."""
    import pytest

    from dask_spark.operators.graph import bfs_hops

    e = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (1, 3), (99, 98)],
        "a bigint, b bigint",
    )
    got = {r["node"]: r["dist"] for r in
           bfs_hops(e, 1, rounds=6).to_spark().collect()}
    assert got == {1: 0, 2: 1, 3: 1, 4: 2, 5: 3}

    capped = {r["node"]: r["dist"] for r in
              bfs_hops(e, 1, rounds=2).to_spark().collect()}
    assert capped == {1: 0, 2: 1, 3: 1, 4: 2}

    with pytest.raises(ValueError, match="rounds"):
        bfs_hops(e, 1, rounds=-1)


def test_split_assign_deterministic_and_stable(spark):
    """Same ids -> same splits on every call; ratios land near
    80/10/10; appending rows never moves an existing row's split;
    bad ratios raise."""
    import pytest

    from dask_spark.operators.mixing import split_assign

    df = spark.createDataFrame([(i,) for i in range(2000)], "id bigint")
    a = {r["id"]: r["split"] for r in
         split_assign(df, "id").to_spark().collect()}
    b = {r["id"]: r["split"] for r in
         split_assign(df, "id").to_spark().collect()}
    assert a == b
    from collections import Counter

    shares = Counter(a.values())
    assert 0.75 <= shares["train"] / 2000 <= 0.85
    assert 0.06 <= shares["valid"] / 2000 <= 0.14
    assert 0.06 <= shares["test"] / 2000 <= 0.14

    bigger = spark.createDataFrame([(i,) for i in range(4000)], "id bigint")
    c = {r["id"]: r["split"] for r in
         split_assign(bigger, "id").to_spark().collect()}
    assert all(c[i] == a[i] for i in range(2000))

    with pytest.raises(ValueError, match="sum to 1"):
        split_assign(df, "id", ratios={"a": 0.5, "b": 0.4})


def test_quantile_bucketize_equal_frequency(spark):
    """4 buckets over 0..999 are the exact quartiles (ties land
    left), each ~250 rows; nulls bucket null; buckets<2 raises."""
    import pytest

    from dask_spark.operators.reductions import quantile_bucketize

    rows = [(float(i),) for i in range(1000)] + [(None,)]
    df = spark.createDataFrame(rows, "x double")
    out = quantile_bucketize(df, "x", buckets=4).to_spark().collect()
    from collections import Counter

    counts = Counter(r["bucket"] for r in out)
    assert counts[None] == 1
    assert all(240 <= counts[i] <= 260 for i in range(4))
    by_val = {r["x"]: r["bucket"] for r in out if r["x"] is not None}
    assert by_val[0.0] == 0 and by_val[999.0] == 3
    assert by_val[249.75 // 1] == 0  # below the .25 boundary

    with pytest.raises(ValueError, match="buckets"):
        quantile_bucketize(df, "x", buckets=1)


def test_incremental_dedup_drops_corpus_and_batch_dups(spark):
    """Batch rows whose text exists in the corpus drop; within-batch
    duplicates keep the lowest id; unique new docs survive with
    their hash."""
    from dask_spark.operators.dedup import incremental_dedup

    corpus = spark.createDataFrame(
        [(1, "old text"), (2, "boiler")], "doc_id bigint, text string"
    )
    batch = spark.createDataFrame(
        [(10, "old text"), (11, "brand new"), (12, "brand new"),
         (13, "another")],
        "doc_id bigint, text string",
    )
    out = incremental_dedup(batch, corpus).to_spark().collect()
    ids = sorted(r["doc_id"] for r in out)
    assert ids == [11, 13]
    assert all(len(r["content_hash"]) == 64 for r in out)


def test_last_touch_attribution_semantics(spark):
    """The most recent preceding non-conversion event wins; the
    window cap demotes stale touches to '(none)'; a user's first
    event converting credits '(none)'; consecutive purchases each
    re-attribute independently."""
    import datetime as dt

    from dask_spark.operators.behavior import last_touch_attribution

    t0 = dt.datetime(2024, 6, 1, 12, 0, 0)

    def s(sec):
        return t0 + dt.timedelta(seconds=sec)

    rows = [
        (1, "u1", s(0), "click"),
        (2, "u1", s(10), "view"),
        (3, "u1", s(20), "purchase"),     # -> view
        (4, "u1", s(30), "purchase"),     # -> view (purchases skip)
        (5, "u2", s(0), "purchase"),      # first event -> (none)
        (6, "u3", s(0), "click"),
        (7, "u3", s(5000), "purchase"),   # outside 3600s -> (none)
    ]
    df = spark.createDataFrame(
        rows, "event_id bigint, user_id string, ts timestamp, "
              "event_type string",
    )
    got = {r["attributed_type"]: r["conversions"]
           for r in last_touch_attribution(
               df, within_seconds=3600).to_spark().collect()}
    assert got == {"view": 2, "(none)": 2}

    uncapped = {r["attributed_type"]: r["conversions"]
                for r in last_touch_attribution(df).to_spark().collect()}
    assert uncapped == {"view": 2, "(none)": 1, "click": 1}


def test_target_encode_shrinkage(spark):
    """enc = (sum_y + m*global_mean)/(n + m): a large category sits
    near its own mean, a 1-row category shrinks most of the way to
    the global mean; m=0 gives the raw category means; negative m
    raises."""
    import pytest

    from dask_spark.operators.reductions import target_encode

    rows = [("big", 10.0)] * 99 + [("rare", 100.0)]
    df = spark.createDataFrame(rows, "cat string, y double")
    got = {r["category"]: r for r in target_encode(
        df, "cat", "y", smoothing=10.0).to_spark().collect()}
    g = (99 * 10.0 + 100.0) / 100
    assert got["big"]["n"] == 99
    assert abs(got["big"]["enc"] - (990 + 10 * g) / 109) < 1e-6
    assert abs(got["rare"]["enc"] - (100 + 10 * g) / 11) < 1e-6
    assert got["rare"]["enc"] < 100.0 / 2  # heavy shrinkage

    raw = {r["category"]: r["enc"] for r in target_encode(
        df, "cat", "y", smoothing=0.0).to_spark().collect()}
    assert raw == {"big": 10.0, "rare": 100.0}

    with pytest.raises(ValueError, match="smoothing"):
        target_encode(df, "cat", "y", smoothing=-1)


def test_spearman_corr_scipy_parity(spark):
    """rho matches scipy.stats.spearmanr (tie-aware average ranks) on
    a tied, nonlinear sample; monotone data gives exactly 1.0;
    constant columns give null; empty input raises."""
    import numpy as np
    import pytest

    from dask_spark.operators.reductions import spearman_corr

    rng = np.random.RandomState(3)
    x = rng.randint(0, 20, 300).astype(float)   # heavy ties
    y = (x ** 3) + rng.randn(300) * 50          # monotone-ish + noise
    df = spark.createDataFrame(
        [(float(a), float(b)) for a, b in zip(x, y)],
        "x double, y double",
    )
    got = spearman_corr(df, "x", "y").to_spark().first()
    try:
        from scipy.stats import spearmanr

        want = spearmanr(x, y).statistic
        assert abs(got["rho"] - want) < 1e-6
    except ImportError:
        assert 0.8 < got["rho"] <= 1.0
    assert got["n"] == 300

    mono = spark.createDataFrame(
        [(float(i), float(i * i)) for i in range(50)], "x double, y double"
    )
    assert spearman_corr(mono, "x", "y").to_spark().first()["rho"] == 1.0

    const = spark.createDataFrame(
        [(1.0, float(i)) for i in range(5)], "x double, y double"
    )
    assert spearman_corr(const, "x", "y").to_spark().first()["rho"] is None

    empty = spark.createDataFrame([], "x double, y double")
    with pytest.raises(ValueError, match="no non-null"):
        spearman_corr(empty, "x", "y")


def test_mutual_information_known_values(spark):
    """Independent columns give MI ~ 0 exactly (uniform product
    table), a deterministic mapping gives MI = H(X) = ln(k), and
    null rows drop; empty input raises."""
    import math

    import pytest

    from dask_spark.operators.monitor import mutual_information

    indep = spark.createDataFrame(
        [(a, b) for a in "pq" for b in "uv" for _ in range(25)],
        "x string, y string",
    )
    r = mutual_information(indep, "x", "y").to_spark().first()
    assert r["mi_nats"] == 0.0 and r["n"] == 100 and r["cells"] == 4

    # y fully determined by x over 4 equiprobable classes
    det = spark.createDataFrame(
        [(c, c.upper()) for c in "abcd" for _ in range(10)]
        + [(None, "X"), ("a", None)],
        "x string, y string",
    )
    r2 = mutual_information(det, "x", "y").to_spark().first()
    assert abs(r2["mi_nats"] - math.log(4)) < 1e-6
    assert r2["n"] == 40  # nulls dropped

    empty = spark.createDataFrame([], "x string, y string")
    with pytest.raises(ValueError, match="no non-null"):
        mutual_information(empty, "x", "y")


def test_source_concentration_known_values(spark):
    """Balanced mix gives HHI = 1/k; a dominant source pushes HHI and
    topk_share toward 1; nulls drop; empty input raises."""
    import pytest

    from dask_spark.operators.mixing import source_concentration

    balanced = spark.createDataFrame(
        [(s,) for s in "abcd" for _ in range(25)], "source string"
    )
    r = source_concentration(balanced, top_k=2).to_spark().first()
    assert (r["n_sources"], r["n_docs"]) == (4, 100)
    assert r["hhi"] == 0.25
    assert r["topk_share"] == 0.5

    skewed = spark.createDataFrame(
        [("big",)] * 90 + [("s1",)] * 5 + [("s2",)] * 5 + [(None,)],
        "source string",
    )
    r2 = source_concentration(skewed, top_k=1).to_spark().first()
    assert r2["n_docs"] == 100  # null dropped
    assert r2["hhi"] == round(0.9 ** 2 + 2 * 0.05 ** 2, 6)
    assert r2["topk_share"] == 0.9

    with pytest.raises(ValueError, match="no non-null"):
        source_concentration(
            spark.createDataFrame([], "source string"))


def test_benford_digits_semantics(spark):
    """Powers-of-magnitude data matches Benford closely; sub-1 values
    are excluded; a degenerate all-ones feed puts all mass on digit
    1; schema is always 9 rows."""
    import math

    import pytest

    from dask_spark.operators.monitor import benford_digits

    # geometric ramp ~ Benford-distributed first digits
    vals = [(1.5 ** i,) for i in range(1, 60)] + [(0.5,), (None,)]
    df = spark.createDataFrame(vals, "v double")
    rows = benford_digits(df, "v").to_spark().orderBy("digit").collect()
    assert [r["digit"] for r in rows] == list(range(1, 10))
    assert sum(r["n"] for r in rows) == 59  # 0.5 and null excluded
    assert rows[0]["benford_p"] == round(math.log10(2), 6)
    assert all(abs(r["deviation"]) < 0.12 for r in rows)

    ones = spark.createDataFrame([(1.0,)] * 10, "v double")
    r1 = benford_digits(ones, "v").to_spark().orderBy("digit").collect()
    assert r1[0]["share"] == 1.0 and all(r["n"] == 0 for r in r1[1:])

    with pytest.raises(ValueError, match="no values"):
        benford_digits(
            spark.createDataFrame([(0.2,)], "v double"), "v")


def test_gini_coefficient_known_values(spark):
    """Perfect equality gives G = 0 exactly; total concentration on
    one of n keys gives (n-1)/n; negative rows drop by contract."""
    from dask_spark.operators.monitor import gini_coefficient

    eq = spark.createDataFrame(
        [(k, 10.0) for k in range(8)], "k bigint, v double"
    )
    assert gini_coefficient(eq, "v", "k").to_spark().first()["gini"] == 0.0

    conc = spark.createDataFrame(
        [(0, 100.0)] + [(k, 0.0) for k in range(1, 10)],
        "k bigint, v double",
    )
    r = gini_coefficient(conc, "v", "k").to_spark().first()
    assert r["gini"] == 0.9 and r["n_keys"] == 10

    neg = spark.createDataFrame(
        [(0, 5.0), (1, 5.0), (2, -99.0)], "k bigint, v double"
    )
    r2 = gini_coefficient(neg, "v", "k").to_spark().first()
    assert r2["n_keys"] == 2 and r2["gini"] == 0.0


def test_trend_residual_outliers_finds_spike(spark):
    """A planted spike day dominates the residual ranking; clean
    linear growth yields near-zero residuals; single-day groups are
    excluded (no trend to break)."""
    import datetime as dt

    from dask_spark.operators.monitor import trend_residual_outliers

    rows = []
    for d in range(10):
        n = 10 + 2 * d + (50 if d == 6 else 0)  # spike on day 7
        for i in range(n):
            rows.append(("steady", dt.datetime(2024, 1, 1 + d, 8, i % 60)))
    rows.append(("lonely", dt.datetime(2024, 2, 1)))
    df = spark.createDataFrame(rows, "event_type string, ts timestamp")

    out = trend_residual_outliers(df, k=3).to_spark().collect()
    assert out[0]["day"] == "2024-01-07"
    assert out[0]["residual"] > 30
    assert all(r["event_type"] == "steady" for r in out)  # lonely dropped
    assert abs(out[1]["residual"]) < out[0]["residual"]


def test_readability_stats_known_text(spark):
    """Hand-computed Flesch on a two-sentence text; fragments get
    min-1 sentences; empty text scores null words->null flesch."""
    from dask_spark.functions.text import readability_stats

    import pyspark.sql.functions as F

    df = spark.createDataFrame(
        [(1, "The cat sat. The dog ran!"),
         (2, "no punctuation here"),
         (3, "")],
        "id bigint, text string",
    )
    rows = {r["id"]: r for r in df.select(
        "id", *readability_stats(F.col("text"))).collect()}
    r1 = rows[1]
    # words=6, sentences=2, vowel groups: e-a-a-e-o-a = 6
    assert (r1["n_words"], r1["n_sentences"], r1["n_syllables"]) == (6, 2, 6)
    want = 206.835 - 1.015 * (6 / 2) - 84.6 * (6 / 6)
    assert abs(r1["flesch"] - want) < 1e-6
    assert rows[2]["n_sentences"] == 1  # min-1 fragment rule
    assert rows[3]["n_words"] == 0 and rows[3]["flesch"] is None


def test_session_stats_semantics(spark):
    """Gap > threshold splits sessions; duration is exact integer
    seconds within a session; converted flags only purchase-bearing
    sessions; n_types counts distinct event types."""
    import datetime as dt

    from dask_spark.streaming.windows import session_stats

    t0 = dt.datetime(2024, 7, 1, 10, 0, 0)

    def s(sec):
        return t0 + dt.timedelta(seconds=sec)

    rows = [
        (1, 7, s(0), "view"), (2, 7, s(60), "click"),
        (3, 7, s(90), "purchase"),
        # 1h gap -> new session
        (4, 7, s(3700), "view"), (5, 7, s(3710), "view"),
        (6, 8, s(0), "click"),
    ]
    df = spark.createDataFrame(
        rows, "event_id bigint, user_id bigint, ts timestamp, "
              "event_type string",
    )
    got = {(r["user_id"], r["session_id"]): r for r in
           session_stats(df, gap_seconds=1800).to_spark().collect()}
    s1 = got[(7, 1)]
    assert (s1["n_events"], s1["duration_s"], s1["n_types"],
            s1["converted"]) == (3, 90, 3, True)
    s2 = got[(7, 2)]
    assert (s2["n_events"], s2["duration_s"], s2["converted"]) == (
        2, 10, False)
    assert got[(8, 1)]["duration_s"] == 0


def test_ab_proportion_scipy_parity(spark):
    """z matches the closed-form two-proportion test (checked against
    statsmodels' formula arithmetic); equal arms give z = 0; a
    degenerate pooled rate yields null z."""
    import math

    from dask_spark.operators.monitor import ab_proportion_test

    rows = [("A", 1)] * 60 + [("A", 0)] * 40 \
        + [("B", 1)] * 45 + [("B", 0)] * 55
    df = spark.createDataFrame(rows, "g string, s int")
    r = ab_proportion_test(df, "g", "s = 1").to_spark().first()
    assert (r["n_a"], r["k_a"], r["n_b"], r["k_b"]) == (100, 60, 100, 45)
    p = 105 / 200
    want = (0.6 - 0.45) / math.sqrt(p * (1 - p) * (1 / 100 + 1 / 100))
    assert abs(r["z"] - want) < 1e-6
    assert r["lift"] == round(0.6 - 0.45, 6)

    eq = spark.createDataFrame(
        [("A", 1), ("A", 0), ("B", 1), ("B", 0)], "g string, s int"
    )
    assert ab_proportion_test(eq, "g", "s = 1").to_spark() \
        .first()["z"] == 0.0

    degen = spark.createDataFrame(
        [("A", 1), ("B", 1)], "g string, s int"
    )
    assert ab_proportion_test(degen, "g", "s = 1").to_spark() \
        .first()["z"] is None


def test_lift_table_orders_positives(spark):
    """A score that perfectly orders positives puts lift ~buckets in
    the top decile and ~0 at the bottom; cum_capture reaches 1.0 at
    bucket 0 (top-down fold); bucket counts are equal-frequency."""
    from dask_spark.operators.reductions import lift_table

    # top 10% of scores are exactly the positives
    rows = [(float(i), 1 if i >= 900 else 0) for i in range(1000)]
    df = spark.createDataFrame(rows, "score double, y int")
    out = lift_table(df, "score", "y = 1", buckets=10) \
        .to_spark().orderBy("bucket").collect()
    assert [r["bucket"] for r in out] == list(range(10))
    assert all(abs(r["n"] - 100) <= 1 for r in out)
    top = out[-1]
    assert top["rate"] >= 0.99 and top["lift"] >= 9.9
    assert top["cum_capture"] == round(top["positives"] / 100, 6)
    assert out[0]["positives"] == 0 and out[0]["cum_capture"] == 1.0


def test_roc_auc_sklearn_parity(spark):
    """AUC matches sklearn.roc_auc_score on tied, noisy scores (the
    tie-corrected rank form IS the Mann-Whitney normalization);
    perfect separation gives 1.0, anti-separation 0.0, single-class
    null."""
    import numpy as np

    from dask_spark.operators.reductions import roc_auc

    rng = np.random.RandomState(5)
    y = (rng.rand(400) < 0.3).astype(int)
    score = (y * 1.2 + rng.randn(400)).round(1)  # heavy ties
    df = spark.createDataFrame(
        [(float(s), int(t)) for s, t in zip(score, y)],
        "s double, y int",
    )
    got = roc_auc(df, "s", "y = 1").to_spark().first()
    try:
        from sklearn.metrics import roc_auc_score

        assert abs(got["auc"] - roc_auc_score(y, score)) < 1e-6
    except ImportError:
        assert 0.7 < got["auc"] < 0.95
    assert got["n_pos"] == int(y.sum())

    perfect = spark.createDataFrame(
        [(float(i), 1 if i >= 50 else 0) for i in range(100)],
        "s double, y int",
    )
    assert roc_auc(perfect, "s", "y = 1").to_spark().first()["auc"] == 1.0
    anti = spark.createDataFrame(
        [(float(-i), 1 if i >= 50 else 0) for i in range(100)],
        "s double, y int",
    )
    assert roc_auc(anti, "s", "y = 1").to_spark().first()["auc"] == 0.0
    mono = spark.createDataFrame([(1.0, 1), (2.0, 1)], "s double, y int")
    assert roc_auc(mono, "s", "y = 1").to_spark().first()["auc"] is None


def test_phash_near_dup_finds_planted_duplicates(spark):
    """Identical media blobs hash identically (hamming 0) and pair;
    random distinct blobs rarely pass max_hamming; bands guarantee
    recall at hamming 0 (a 0-distance pair collides on EVERY band)."""
    import dask_spark as ds
    from dask_spark.functions.multimodal import (attach_fake_media,
                                                 phash_near_dup)

    import pandas as pd

    texts = [f"unique document number {i} body" for i in range(60)]
    texts[41] = texts[7]   # planted duplicate blob (same text)
    texts[55] = texts[7]
    pdf = pd.DataFrame({"doc_id": range(60), "text": texts})
    media = attach_fake_media(ds.from_pandas(pdf))
    pairs = phash_near_dup(media, dim=32, band_bits=8, max_hamming=4) \
        .to_spark().collect()
    got0 = {(r["id_a"], r["id_b"]) for r in pairs if r["hamming"] == 0}
    assert {(7, 41), (7, 55), (41, 55)} <= got0
    # selectivity: far fewer pairs than C(60,2) = 1770
    assert len(pairs) < 60


def test_ql_topk_ranks_term_density(spark):
    """QL-Dirichlet ranks the term-dense doc first, shrinks toward
    the collection model with huge mu, and validates inputs."""
    import pytest

    from dask_spark.operators.similarity import ql_topk

    df = spark.createDataFrame(
        [(1, "spark spark spark join filter"),
         (2, "spark and other words about data"),
         (3, "completely unrelated text body here")],
        "doc_id bigint, text string",
    )
    out = ql_topk(df, ["spark"], k=3, mu=10.0).to_spark().collect()
    assert [r["doc_id"] for r in out] == [1, 2, 3]
    assert out[0]["score"] > out[1]["score"] > out[2]["score"]

    # mu -> huge: scores converge (collection model dominates)
    flat = ql_topk(df, ["spark"], k=3, mu=1e9).to_spark().collect()
    assert abs(flat[0]["score"] - flat[-1]["score"]) < 1e-6

    with pytest.raises(ValueError, match="at least one"):
        ql_topk(df, [], k=3)
    with pytest.raises(ValueError, match="mu"):
        ql_topk(df, ["spark"], mu=0)


def test_theil_sen_robust_to_spike(spark):
    """On clean linear growth Theil-Sen == the true slope exactly; a
    massive single-day spike barely moves it while OLS jumps; lonely
    single-day groups drop."""
    import datetime as dt

    from dask_spark.operators.monitor import (linear_trend,
                                              theil_sen_trend)

    rows = []
    for d in range(11):
        n = 10 + 3 * d + (400 if d == 10 else 0)  # end spike: max leverage
        for i in range(n):
            rows.append(("spiky", dt.datetime(2024, 1, 1 + d, 9, i % 60)))
        for i in range(10 + 2 * d):
            rows.append(("clean", dt.datetime(2024, 1, 1 + d, 9, i % 60)))
    rows.append(("lonely", dt.datetime(2024, 3, 1)))
    df = spark.createDataFrame(rows, "event_type string, ts timestamp")

    ts = {r["event_type"]: r for r in
          theil_sen_trend(df).to_spark().collect()}
    ols = {r["event_type"]: r for r in
           linear_trend(df).to_spark().collect()}
    assert "lonely" not in ts
    assert ts["clean"]["slope"] == 2.0
    assert ts["clean"]["n_pairs"] == 55  # C(11,2)
    assert abs(ts["spiky"]["slope"] - 3.0) <= 1.0   # robust
    assert abs(ols["spiky"]["slope"] - 3.0) > 2.0   # OLS dragged


def test_robust_mean_resists_outlier(spark):
    """A planted giant outlier drags the mean but not the trimmed /
    winsorized variants; on clean data all three agree; bad bounds
    raise."""
    import pytest

    from dask_spark.operators.reductions import robust_mean

    clean = spark.createDataFrame(
        [(float(v),) for v in range(1, 101)], "x double"
    )
    r = robust_mean(clean, "x", 0.05, 0.95).to_spark().first()
    assert abs(r["mean"] - 50.5) < 1e-9
    assert abs(r["trimmed_mean"] - r["mean"]) < 3
    assert abs(r["winsorized_mean"] - r["mean"]) < 1

    dirty = spark.createDataFrame(
        [(float(v),) for v in range(1, 101)] + [(1e9,)], "x double"
    )
    d = robust_mean(dirty, "x", 0.05, 0.95).to_spark().first()
    assert d["mean"] > 1e6               # dragged
    assert d["trimmed_mean"] < 100       # resistant
    assert d["winsorized_mean"] < 200    # clamped

    with pytest.raises(ValueError, match="lower"):
        robust_mean(clean, "x", 0.9, 0.1)


def test_zipf_fit_detects_power_law(spark):
    """A synthetic corpus with freq(rank) = round(1000/rank) fits
    slope ~ -1 with r2 ~ 1; a flat (uniform) corpus fits slope ~ 0;
    sub-2-type corpora raise."""
    import pytest

    from dask_spark.functions.text import zipf_fit

    zipf_words = []
    for rank in range(1, 41):
        zipf_words += [f"w{rank:03d}"] * max(round(1000 / rank), 1)
    df = spark.createDataFrame(
        [(" ".join(zipf_words),)], "text string"
    )
    r = zipf_fit(df, top_k=40).first()
    assert r["n_types"] == 40
    assert -1.05 <= r["slope"] <= -0.93
    assert r["r2"] > 0.99

    flat = spark.createDataFrame(
        [(" ".join(f"t{i}" for i in range(30)) + " ",)] * 5,
        "text string",
    )
    rf = zipf_fit(flat, top_k=30).first()
    assert abs(rf["slope"]) < 0.05 or rf["r2"] is None

    with pytest.raises(ValueError, match="2 token types"):
        zipf_fit(spark.createDataFrame([("hello",)], "text string"))


def test_contrastive_negatives_deterministic(spark):
    """Every anchor gets exactly k negatives, none equal to the
    anchor, all in the dense id space, and the assignment is
    identical across calls; undersized inputs raise."""
    import pytest

    from dask_spark.operators.mixing import contrastive_negatives

    df = spark.createDataFrame([(i,) for i in range(50)], "vec_id bigint")
    a = contrastive_negatives(df, k=4).to_spark().collect()
    b = contrastive_negatives(df, k=4).to_spark().collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    assert len(a) == 200
    for r in a:
        assert r["neg_id"] != r["anchor_id"]
        assert 0 <= r["neg_id"] < 50
    # a different salt reshuffles partners
    c = contrastive_negatives(df, k=4, salt="other").to_spark().collect()
    assert sorted(map(tuple, c)) != sorted(map(tuple, a))

    with pytest.raises(ValueError, match=">= 2 rows"):
        contrastive_negatives(
            spark.createDataFrame([(0,)], "vec_id bigint"))


def test_time_to_convert_semantics(spark):
    """First signup -> first purchase strictly after; pre-signup
    purchases don't count; never-converters appear in n_users only;
    the median is the exact middle delta."""
    import datetime as dt

    from dask_spark.operators.behavior import time_to_convert

    t0 = dt.datetime(2024, 8, 1, 12, 0, 0)

    def s(sec):
        return t0 + dt.timedelta(seconds=sec)

    rows = [
        # u1: signup at 0, purchase at 100 -> delta 100
        (1, "signup", s(0)), (1, "purchase", s(100)),
        # u2: purchase BEFORE signup (ignored), then at +300
        (2, "purchase", s(0)), (2, "signup", s(50)),
        (2, "purchase", s(350)),
        # u3: signs up, never converts
        (3, "signup", s(0)),
        # u4: two signups — the FIRST anchors; purchase at +500
        (4, "signup", s(0)), (4, "signup", s(400)),
        (4, "purchase", s(500)),
    ]
    df = spark.createDataFrame(
        rows, "user_id bigint, event_type string, ts timestamp"
    )
    r = time_to_convert(df).to_spark().first()
    assert r["n_users"] == 4 and r["n_converted"] == 3
    assert r["ttc_5"] == 300.0  # deltas 100, 300, 500
    assert r["ttc_25"] == 200.0 and r["ttc_75"] == 400.0


def test_snapshot_diff_statuses(spark):
    """Hand-built snapshots: one added, one removed, one changed, two
    unchanged — counts exact; identical snapshots are all
    unchanged."""
    from dask_spark.operators.dedup import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c"), (4, "d")],
        "doc_id bigint, text string",
    )
    new = spark.createDataFrame(
        [(2, "b"), (3, "c"), (4, "D-edited"), (5, "e")],
        "doc_id bigint, text string",
    )
    got = {r["status"]: r["n"] for r in
           snapshot_diff(old, new).to_spark().collect()}
    assert got == {"added": 1, "removed": 1, "changed": 1,
                   "unchanged": 2}

    same = {r["status"]: r["n"] for r in
            snapshot_diff(old, old).to_spark().collect()}
    assert same == {"unchanged": 4}


def test_rolling_active_users_window_math(spark):
    """A user active on day d counts toward days d..d+6 (clipped at
    the last observed day); multiple events per day count once; the
    window length changes the answer."""
    import datetime as dt

    from dask_spark.operators.behavior import rolling_active_users

    d0 = dt.datetime(2024, 9, 1, 10)
    rows = [
        (1, d0), (1, d0), (1, d0),                       # dup events
        (2, d0 + dt.timedelta(days=3)),
        (3, d0 + dt.timedelta(days=10)),
    ]
    df = spark.createDataFrame(rows, "user_id bigint, ts timestamp")
    got = {r["day"]: r["wau"] for r in
           rolling_active_users(df, 7).to_spark().collect()}
    # coverage: u1 -> 09-01..09-07, u2 -> 09-04..09-10, u3 -> 09-11
    assert got["2024-09-01"] == 1
    assert got["2024-09-04"] == 2           # u1 and u2 overlap
    assert got["2024-09-08"] == 1           # u1 aged out, u2 remains
    assert got["2024-09-10"] == 1           # u2's last covered day
    assert got["2024-09-11"] == 1           # u3 only
    assert max(got) == "2024-09-11"         # clipped at last observed day

    daily = {r["day"]: r["wau"] for r in
             rolling_active_users(df, 1).to_spark().collect()}
    assert daily == {"2024-09-01": 1, "2024-09-04": 1, "2024-09-11": 1}


def test_top_paths_sequences(spark):
    """Per-user trigram paths: a repeated funnel dominates, paths
    never span users, incomplete tails drop, length=2 gives
    bigrams."""
    import datetime as dt

    from dask_spark.operators.behavior import top_paths

    t0 = dt.datetime(2024, 10, 1, 9)
    rows = []
    eid = 0
    for u in range(5):
        for i, et in enumerate(["view", "click", "purchase"]):
            eid += 1
            rows.append((eid, u, t0 + dt.timedelta(seconds=i), et))
    # one user with a different tail
    rows.append((100, 9, t0, "view"))
    rows.append((101, 9, t0 + dt.timedelta(seconds=1), "error"))
    df = spark.createDataFrame(
        rows, "event_id bigint, user_id bigint, ts timestamp, "
              "event_type string",
    )
    out = top_paths(df, 3, 5).to_spark().collect()
    assert out[0]["path"] == "view > click > purchase"
    assert out[0]["n"] == 5
    assert len(out) == 1  # u9's 2-event stream yields no trigram

    bi = {r["path"]: r["n"] for r in
          top_paths(df, 2, 5).to_spark().collect()}
    assert bi["view > click"] == 5 and bi["view > error"] == 1


def test_stickiness_ratio(spark):
    """DAU/MAU: with every user active daily the ratio is 1.0; a
    user active once depresses later days' ratios within the 30-day
    trail."""
    import datetime as dt

    from dask_spark.operators.behavior import stickiness

    t0 = dt.datetime(2024, 11, 1, 8)
    rows = []
    for d in range(5):
        for u in (1, 2):
            rows.append((u, t0 + dt.timedelta(days=d)))
    rows.append((3, t0))  # one-shot user on day 1
    df = spark.createDataFrame(rows, "user_id bigint, ts timestamp")
    got = {r["day"]: r for r in
           stickiness(df, 1, 30).to_spark().collect()}
    assert got["2024-11-01"]["dau"] == 3
    assert got["2024-11-01"]["mau"] == 3
    assert got["2024-11-01"]["stickiness"] == 1.0
    assert got["2024-11-03"]["dau"] == 2
    assert got["2024-11-03"]["mau"] == 3  # u3 still in the 30d trail
    assert got["2024-11-03"]["stickiness"] == round(2 / 3, 6)


def test_rate_with_wilson_bounds(spark):
    """Wilson bounds match statsmodels' closed form on a hand case,
    clamp to [0, 1], and a thin day shows a wide interval containing
    the rate."""
    import datetime as dt
    import math

    from dask_spark.operators.monitor import rate_with_wilson

    t0 = dt.datetime(2024, 12, 1, 9)
    rows = [("error" if i < 20 else "view", t0) for i in range(100)]
    rows += [("error", t0 + dt.timedelta(days=1)),
             ("view", t0 + dt.timedelta(days=1)),
             ("view", t0 + dt.timedelta(days=1))]
    df = spark.createDataFrame(rows, "event_type string, ts timestamp")
    got = {r["day"]: r for r in rate_with_wilson(
        df, "event_type = 'error'").to_spark().collect()}

    r = got["2024-12-01"]
    p, n, z = 0.2, 100.0, 1.96
    denom = 1 + z * z / n
    center = (p + z * z / (2 * n)) / denom
    half = z * math.sqrt(p * (1 - p) / n + z * z / (4 * n * n)) / denom
    assert r["rate"] == 0.2
    assert abs(r["lo"] - (center - half)) < 1e-6
    assert abs(r["hi"] - (center + half)) < 1e-6

    thin = got["2024-12-02"]
    assert thin["n"] == 3
    assert thin["hi"] - thin["lo"] > 0.5        # honest wide interval
    assert thin["lo"] <= thin["rate"] <= thin["hi"]
    assert 0.0 <= thin["lo"] and thin["hi"] <= 1.0


def test_hourly_profile_alignment(spark):
    """dow/hour bucketing: a Sunday-03:00 event lands in (1, 3), a
    Tuesday-14:00 in (3, 14); shares sum to 1 and lift is share*168."""
    import datetime as dt

    from dask_spark.operators.behavior import hourly_profile

    rows = [
        (dt.datetime(2024, 9, 1, 3, 5),),   # a Sunday
        (dt.datetime(2024, 9, 3, 14, 30),),  # a Tuesday
        (dt.datetime(2024, 9, 3, 14, 45),),
    ]
    df = spark.createDataFrame(rows, "ts timestamp")
    got = {(r["dow"], r["hour"]): r for r in
           hourly_profile(df).to_spark().collect()}
    assert got[(1, 3)]["n"] == 1
    assert got[(3, 14)]["n"] == 2
    assert abs(sum(r["share"] for r in got.values()) - 1.0) < 1e-6
    r = got[(3, 14)]
    assert abs(r["lift"] - r["share"] * 168) < 1e-4


# ---------------- r12: binned escalation modes (exact=False) ----------------


def test_spearman_binned_converges_to_exact(spark):
    """With bins >> distinct values every value gets its own bucket,
    so the binned mode must reproduce the exact statistic bit-for-bit
    (each bucket is a tie block of one value); with coarse bins it
    stays within bucket-resolution error of exact."""
    from dask_spark.operators.reductions import spearman_corr

    rows = [(float(i % 50), float((i * 7) % 50) + 0.5 * (i % 3))
            for i in range(600)]
    df = spark.createDataFrame(rows, "x double, y double")
    exact = spearman_corr(df, "x", "y").to_spark().first()
    fine = spearman_corr(df, "x", "y", exact=False, bins=65536) \
        .to_spark().first()
    assert fine["rho"] == exact["rho"]
    assert fine["n"] == exact["n"]
    coarse = spearman_corr(df, "x", "y", exact=False, bins=32) \
        .to_spark().first()
    assert abs(coarse["rho"] - exact["rho"]) < 0.1


def test_spearman_binned_degenerate(spark):
    """Constant column -> zero denominator -> rho None (both modes);
    empty input raises in both modes."""
    import pytest as _pytest

    from dask_spark.operators.reductions import spearman_corr

    const = spark.createDataFrame(
        [(1.0, float(i)) for i in range(10)], "x double, y double"
    )
    assert spearman_corr(const, "x", "y", exact=False).to_spark() \
        .first()["rho"] is None
    empty = spark.createDataFrame([], "x double, y double")
    with _pytest.raises(ValueError, match="no non-null"):
        spearman_corr(empty, "x", "y", exact=False)


def test_gini_binned_converges_to_exact(spark):
    """Fine bins: every per-key total its own bucket -> block-mean
    formula degenerates to the exact rank formula. Coarse bins stay
    close. Uniform distribution -> gini 0 in both modes."""
    from dask_spark.operators.monitor import gini_coefficient

    rows = [(i % 40, float((i % 40) ** 2) / 10.0) for i in range(400)]
    df = spark.createDataFrame(rows, "k bigint, v double")
    exact = gini_coefficient(df, "v", "k").to_spark().first()
    fine = gini_coefficient(df, "v", "k", exact=False, bins=1 << 20) \
        .to_spark().first()
    assert fine["n_keys"] == exact["n_keys"]
    assert abs(fine["gini"] - exact["gini"]) < 1e-9
    coarse = gini_coefficient(df, "v", "k", exact=False, bins=16) \
        .to_spark().first()
    assert abs(coarse["gini"] - exact["gini"]) < 0.05
    flat = spark.createDataFrame(
        [(i, 3.5) for i in range(50)], "k bigint, v double"
    )
    assert gini_coefficient(flat, "v", "k", exact=False) \
        .to_spark().first()["gini"] == 0.0


def test_ks_binned_converges_and_bounds(spark):
    """Fine bins reproduce exact D when values are integer-spaced
    (each value its own bucket); identical samples -> D = 0; the
    binned D never EXCEEDS the exact D (boundary subset)."""
    from dask_spark.operators.monitor import ks_drift

    a = [float(i % 30) for i in range(300)]
    b = [float((i % 30) + (3 if i % 4 == 0 else 0)) for i in range(200)]

    def mk(vals):
        return spark.createDataFrame([(v,) for v in vals], "x double")

    exact = ks_drift(mk(a), mk(b), "x").to_spark().first()
    fine = ks_drift(mk(a), mk(b), "x", exact=False, bins=65536) \
        .to_spark().first()
    assert (fine["d_num"], fine["n_ref"], fine["n_cur"]) == \
        (exact["d_num"], exact["n_ref"], exact["n_cur"])
    coarse = ks_drift(mk(a), mk(b), "x", exact=False, bins=8) \
        .to_spark().first()
    assert coarse["d_stat"] <= exact["d_stat"] + 1e-12
    same = ks_drift(mk(a), mk(a), "x", exact=False).to_spark().first()
    assert same["d_num"] == 0


def test_auc_binned_converges_and_degenerates(spark):
    """Fine bins (integer-spaced scores -> own buckets) reproduce the
    exact AUC bit-for-bit; perfect separation stays 1.0 binned (order
    preserved by monotone bucketing); single-class -> null auc."""
    from dask_spark.operators.reductions import roc_auc

    rows = [(float(i % 40), 1 if (i * 13) % 5 == 0 else 0)
            for i in range(400)]
    df = spark.createDataFrame(rows, "s double, y int")
    exact = roc_auc(df, "s", "y = 1").to_spark().first()
    fine = roc_auc(df, "s", "y = 1", exact=False, bins=65536) \
        .to_spark().first()
    assert (fine["auc"], fine["n_pos"], fine["n_neg"]) == \
        (exact["auc"], exact["n_pos"], exact["n_neg"])
    sep = spark.createDataFrame(
        [(float(i), 1 if i >= 50 else 0) for i in range(100)],
        "s double, y int",
    )
    assert roc_auc(sep, "s", "y = 1", exact=False, bins=64) \
        .to_spark().first()["auc"] == 1.0
    mono = spark.createDataFrame(
        [(float(i), 1) for i in range(10)], "s double, y int"
    )
    assert roc_auc(mono, "s", "y = 1", exact=False) \
        .to_spark().first()["auc"] is None


def test_calibration_table_and_ece(spark):
    """Perfectly calibrated scores (score == empirical rate per
    bucket) give gap 0 everywhere and ECE 0; a constant over-confident
    score gives ECE == |rate − score|; out-of-range scores clamp."""
    from dask_spark.operators.reductions import (
        calibration_table,
        expected_calibration_error,
    )

    # bucket b gets score (b+0.5)/10 and positives at exactly that rate
    rows = []
    for b in range(10):
        s = (b + 0.5) / 10.0
        for i in range(20):
            rows.append((s, 1 if i < round(s * 20) else 0))
    df = spark.createDataFrame(rows, "score double, y int")
    tab = calibration_table(df, "score", "y = 1").to_spark().collect()
    assert len(tab) == 10
    assert all(r["gap"] == 0.0 for r in tab)
    assert expected_calibration_error(df, "score", "y = 1") \
        .to_spark().first()["ece"] == 0.0

    over = spark.createDataFrame(
        [(0.9, 1 if i < 3 else 0) for i in range(10)], "score double, y int"
    )
    assert expected_calibration_error(over, "score", "y = 1") \
        .to_spark().first()["ece"] == 0.6

    clamped = spark.createDataFrame(
        [(-0.5, 0), (1.7, 1)], "score double, y int"
    )
    t = {r["bucket"]: r for r in
         calibration_table(clamped, "score", "y = 1").to_spark().collect()}
    assert set(t) == {0, 9}
    assert t[0]["conf"] == 0.0 and t[9]["conf"] == 1.0

    import pytest as _pytest
    empty = spark.createDataFrame([], "score double, y int")
    with _pytest.raises(ValueError, match="no scored"):
        expected_calibration_error(empty, "score", "y = 1")
    with _pytest.raises(ValueError, match="bins"):
        calibration_table(clamped, "score", "y = 1", bins=1)


def test_percentile_escalation_modes(spark):
    """exact=False on quantile_bucketize / lift_table / robust_mean
    takes boundaries from the histogram-quantile sketch instead of
    the value-buffering exact percentile. With bins >> distinct
    values the sketch boundary lands inside the same tie block, so
    bucket assignments and robust means match the exact mode."""
    from dask_spark.operators.reductions import (
        lift_table,
        quantile_bucketize,
        robust_mean,
    )

    df = spark.createDataFrame(
        [(float(i % 100), 1 if (i * 7) % 10 < 3 else 0)
         for i in range(1000)],
        "x double, y int",
    )
    ex = quantile_bucketize(df, "x", buckets=4, out="b") \
        ._sdf.groupBy("b").count().collect()
    ap = quantile_bucketize(df, "x", buckets=4, out="b",
                            exact=False, bins=1 << 17) \
        ._sdf.groupBy("b").count().collect()
    assert sorted((r["b"], r["count"]) for r in ex) == \
        sorted((r["b"], r["count"]) for r in ap)

    lt_ex = lift_table(df, "x", "y = 1", buckets=5).to_spark().collect()
    lt_ap = lift_table(df, "x", "y = 1", buckets=5,
                       exact=False, bins=1 << 17).to_spark().collect()
    assert [tuple(r) for r in lt_ex] == [tuple(r) for r in lt_ap]

    rm_ex = robust_mean(df, "x").to_spark().first()
    rm_ap = robust_mean(df, "x", exact=False, bins=1 << 17) \
        .to_spark().first()
    assert rm_ex["trimmed_mean"] == rm_ap["trimmed_mean"]
    # winsorize clamps AT the boundary: exact mode interpolates the
    # percentile (type-7 / quantile_cont), the sketch is rank-based
    # (lands ON a sample value) — a documented estimator difference,
    # so the means agree only to one inter-value gap here
    assert abs(rm_ex["winsorized_mean"] - rm_ap["winsorized_mean"]) < 0.1

    import pytest as _pytest
    empty = spark.createDataFrame([], "x double, y int")
    with _pytest.raises(ValueError):
        quantile_bucketize(empty, "x", exact=False)


def test_auc_by_group_matches_global_per_slice(spark):
    """Each group's AUC equals the global roc_auc computed on that
    slice alone; single-class groups get null."""
    import pyspark.sql.functions as F

    from dask_spark.operators.reductions import roc_auc, roc_auc_by_group

    rows = []
    for gi, g in enumerate(("a", "b", "c")):
        for i in range(120):
            score = float((i * (gi + 3)) % 60)
            label = 1 if (i + gi) % 4 == 0 else 0
            rows.append((g, score, label))
    rows += [("d", float(i), 1) for i in range(10)]  # single-class
    df = spark.createDataFrame(rows, "g string, s double, y int")
    got = {r["group"]: r
           for r in roc_auc_by_group(df, "s", "y = 1", "g")
           .to_spark().collect()}
    assert got["d"]["auc"] is None
    for g in ("a", "b", "c"):
        sl = df.filter(F.col("g") == g)
        exp = roc_auc(sl, "s", "y = 1").to_spark().first()
        assert got[g]["auc"] == exp["auc"]
        assert (got[g]["n_pos"], got[g]["n_neg"]) == \
            (exp["n_pos"], exp["n_neg"])


def test_key_skew_report_values(spark):
    """Shares/ratios from a known skew: one key carries half the rows."""
    from dask_spark.operators.joins import key_skew_report

    rows = [(0,)] * 50 + [(k,) for k in range(1, 51)]
    df = spark.createDataFrame(rows, "k bigint")
    out = key_skew_report(df, "k", top=3).to_spark().collect()
    assert [r["key"] for r in out] == [0, 1, 2]
    r0 = out[0]
    assert r0["n"] == 50 and r0["share"] == 0.5
    # 51 keys, 100 rows -> mean rows/key = 100/51; ratio = 50*51/100
    assert r0["skew_ratio"] == 25.5
    assert out[2]["cum_share"] == 0.52


def test_psi_drift_multi_matches_single(spark):
    """Each sweep row equals the single-column psi_drift bit-for-bit;
    an all-null column yields a null-psi row instead of killing the
    sweep; empty column list raises."""
    import pyspark.sql.functions as F

    from dask_spark.operators.monitor import psi_drift, psi_drift_multi

    ref = spark.range(500).select(
        (F.col("id") % 97).cast("double").alias("a"),
        (F.col("id") % 13).cast("double").alias("b"),
        F.lit(None).cast("double").alias("dead"),
    )
    cur = spark.range(400).select(
        ((F.col("id") % 83) + 20).cast("double").alias("a"),
        (F.col("id") % 17).cast("double").alias("b"),
        F.lit(None).cast("double").alias("dead"),
    )
    multi = {r["column"]: r
             for r in psi_drift_multi(ref, cur, ["a", "b", "dead"],
                                      bins=16).to_spark().collect()}
    for c in ("a", "b"):
        single = psi_drift(ref.select(c), cur.select(c), c,
                           bins=16).to_spark().first()
        assert multi[c]["psi"] == single["psi"]
        assert (multi[c]["n_ref"], multi[c]["n_cur"]) == \
            (single["n_ref"], single["n_cur"])
    assert multi["dead"]["psi"] is None
    assert multi["dead"]["n_ref"] == 0

    import pytest as _pytest
    with _pytest.raises(ValueError, match="no columns"):
        psi_drift_multi(ref, cur, [])


# ---- fused-kernel / assume_canonical exactness pins: each fast form
# must equal the expression or self-canonicalizing form it replaced


def test_triangle_count_assume_canonical(spark):
    import pyspark.sql.functions as F

    from dask_spark.operators.graph import triangle_count

    # messy input: duplicates, both orientations, self loop
    rows = [(1, 2), (2, 1), (2, 3), (1, 3), (3, 4), (4, 1), (2, 2),
            (3, 1), (4, 3)]
    sdf = spark.createDataFrame(rows, "a bigint, b bigint")
    base = triangle_count(sdf, "a", "b").compute()

    canon = (
        sdf.select(F.least("a", "b").alias("a"),
                   F.greatest("a", "b").alias("b"))
        .filter(F.col("a") < F.col("b")).distinct()
    )
    fast = triangle_count(
        canon, "a", "b", assume_canonical=True
    ).compute()
    lhs = base.sort_values("node", ignore_index=True)
    rhs = fast.sort_values("node", ignore_index=True)
    pd.testing.assert_frame_equal(lhs, rhs)


def test_assign_kernel_query_dots_match_expression(spark):
    """_assign_kernel's dq/dv columns must be bit-identical to the
    unrolled vector.dot expression they replaced in ann_ivf_checked."""
    import pyspark.sql.functions as F

    from dask_spark.functions.vector import dot as v_dot
    from dask_spark.operators.cluster import _assign_kernel

    rng = np.random.RandomState(11)
    dim, n = 16, 120
    vecs = rng.normal(size=(n, dim)).round(3)
    q = [float(x) for x in rng.normal(size=dim).round(3)]
    pdf = pd.DataFrame({"vec_id": range(n), "__v": [list(v) for v in vecs]})
    base = spark.createDataFrame(pdf)
    cents = [list(map(float, vecs[i])) for i in range(4)]
    schema, kernel = _assign_kernel(
        cents, dim, "vec_id", "bigint", ("vec_id", "cluster", "dq", "dv"),
        query=q,
    )
    got = base.mapInPandas(kernel, schema).orderBy("vec_id").collect()
    qlit = F.array(*[F.lit(x) for x in q])
    exp = base.select(
        "vec_id",
        v_dot(F.col("__v"), qlit, dim).alias("dq"),
        v_dot(F.col("__v"), F.col("__v"), dim).alias("dv"),
    ).orderBy("vec_id").collect()
    for g, e in zip(got, exp):
        assert g["dq"] == e["dq"]  # exact doubles, no tolerance
        assert g["dv"] == e["dv"]


def test_decode_kernel_phash_matches_expression(spark):
    """decode_features(with_phash=dim) must reproduce the phash_bits
    expression bit-for-bit (same L2R mean fold, strict > threshold)."""
    import pyspark.sql.functions as F

    from dask_spark.frame import DaskFrame
    from dask_spark.functions.multimodal import (attach_fake_media,
                                                 decode_features,
                                                 phash_bits)

    rows = [(i, f"doc text {i} {'x' * (i % 7)}") for i in range(200)]
    d = DaskFrame(spark.createDataFrame(rows, "doc_id bigint, text string"))
    media = attach_fake_media(d)
    dim = 32
    fused = decode_features(media, out_dim=dim + 2, with_phash=dim)._sdf \
        .select("doc_id", "ph").orderBy("doc_id").collect()
    feats = decode_features(media, out_dim=dim + 2)._sdf
    expr = feats.select(
        "doc_id",
        phash_bits(F.slice(F.col("features"), 1, dim), dim).alias("ph"),
    ).orderBy("doc_id").collect()
    assert [r["ph"] for r in fused] == [r["ph"] for r in expr]


def test_top_plus_totals_matches_separate_actions(spark):
    from dask_spark.functions.text import _top_plus_totals

    import pyspark.sql.functions as F

    toks = spark.createDataFrame(
        [("a",)] * 5 + [("b",)] * 3 + [("c",)] * 3 + [("d",)] * 1,
        "tok string",
    )
    counts = toks.groupBy("tok").count()
    top, n_types, total = _top_plus_totals(counts, "tok", 2)
    assert n_types == 4 and int(total) == 12
    assert sorted((r["tok"], r["count"]) for r in top) == [("a", 5), ("b", 3)]


def test_knn_join_arrow_scorer_matches_expression(spark):
    """knn_join's mapInArrow dot kernel (r15: zero-copy list-buffer
    reshape instead of per-row pandas stacking) must stay bit-identical
    to the unrolled ordered-dot expression on the same pairs."""
    import pyspark.sql.functions as F

    from dask_spark.frame import DaskFrame
    from dask_spark.functions.vector import dot as v_dot
    from dask_spark.operators.similarity import knn_join

    rng = np.random.RandomState(23)
    dim, n = 16, 80
    vecs = rng.normal(size=(n, dim)).round(3)
    pdf = pd.DataFrame(
        {"vec_id": range(n), "embedding": [list(v) for v in vecs]}
    )
    base = spark.createDataFrame(pdf)
    d = DaskFrame(base)
    got = (
        knn_join(d, d, k=3, bands=4, planes=4, exclude_self=True,
                 round_dp=9)
        .compute().sort_values(["l_id", "rank"]).reset_index(drop=True)
    )
    v = F.col("embedding")
    norms = base.select(
        "vec_id",
        (F.lit(1.0) / F.sqrt(v_dot(v, v, dim))).alias("inv"),
    ).collect()
    inv = {r["vec_id"]: r["inv"] for r in norms}
    # expression-side replay of each returned pair's cosine, in the
    # exact kernel op order: L2R dot, then *linv, then *rinv
    vv = {i: vecs[i] for i in range(n)}
    for _, row in got.iterrows():
        a, b = vv[int(row["l_id"])], vv[int(row["r_id"])]
        acc = 0.0
        for i in range(dim):
            acc += float(a[i]) * float(b[i])
        acc *= inv[int(row["l_id"])]
        acc *= inv[int(row["r_id"])]
        assert row["cosine"] == round(acc, 9) or abs(
            row["cosine"] - acc
        ) < 1e-12
