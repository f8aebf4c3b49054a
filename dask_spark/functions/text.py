"""Text-analysis functions for LLM-corpus pipelines — all pure Column
expressions (JVM codegen, zero Python in the hot path).

These extend the reference's string accessor surface
(dask/dataframe/accessor.py) with the corpus-prep ops a training-data
pipeline needs: tokenization, language ID, quality scoring,
fingerprinting."""

from __future__ import annotations

import math

import pyspark.sql.functions as F
from pyspark.sql import Column

# BPE-ish word/number/punct splitter (GPT-2-style pre-tokenizer shape,
# simplified to RE2-compatible form)
_BPE_RE = r"[A-Za-z]+|[0-9]{1,3}|[^A-Za-z0-9\s]"

_STOPWORDS = [
    "the", "of", "and", "to", "a", "in", "is", "it", "that", "for", "on",
    "was", "with", "as", "at", "by", "be", "this", "are", "or", "an",
]

# tiny per-language character/stopword profiles for the n-gram heuristic
_LANG_MARKERS = {
    "en": ["the ", " and ", " of ", " to ", " is "],
    "de": [" der ", " und ", " die ", " ist ", " das "],
    "fr": [" le ", " la ", " et ", " les ", " est "],
    "es": [" el ", " de ", " que ", " los ", " es "],
}


def word_tokens(text: Column) -> Column:
    """Whitespace tokenization → array<string> (lowercased)."""
    return F.filter(F.split(F.lower(text), r"\s+"), lambda t: F.length(t) > 0)


def bpe_tokens(text: Column) -> Column:
    """BPE-ish pre-tokenization via regexp_extract_all."""
    return F.regexp_extract_all(text, F.lit(_BPE_RE), 0)


def token_count(text: Column, kind: str = "whitespace") -> Column:
    if kind == "whitespace":
        return F.size(word_tokens(text))
    return F.size(bpe_tokens(text))


def shingles(text: Column, k: int = 5) -> Column:
    """Character k-shingles of the lowercased, whitespace-normalized
    text → array<string>. JVM-side via sequence+substring transform."""
    norm = F.regexp_replace(F.lower(text), r"\s+", " ")
    n = F.greatest(F.length(norm) - k + 1, F.lit(1))
    return F.transform(F.sequence(F.lit(1), n), lambda i: F.substr(norm, i, F.lit(k)))


def quality_score(text: Column) -> Column:
    """Composite heuristic quality in [0,1]: length band, alpha ratio,
    punct ratio, stopword hit-rate, mean word length band. Mirrors
    common corpus-filtering recipes (C4/Gopher rules, public)."""
    toks = word_tokens(text)
    n_tok = F.size(toks)
    n_chars = F.length(text)
    alpha = F.length(F.regexp_replace(text, r"[^A-Za-z]", "")) / F.greatest(n_chars, F.lit(1))
    punct = F.length(F.regexp_replace(text, r"[^.,;:!?]", "")) / F.greatest(n_chars, F.lit(1))
    stop_hits = F.size(F.filter(toks, lambda t: t.isin(_STOPWORDS)))
    stop_ratio = stop_hits / F.greatest(n_tok, F.lit(1))
    mean_wl = n_chars / F.greatest(n_tok, F.lit(1))
    len_ok = F.when((n_tok >= 5) & (n_tok <= 100000), 1.0).otherwise(0.0)
    wl_ok = F.when((mean_wl >= 3) & (mean_wl <= 12), 1.0).otherwise(0.0)
    score = (
        0.25 * len_ok
        + 0.25 * F.least(alpha * 1.25, F.lit(1.0))
        + 0.2 * wl_ok
        + 0.2 * F.least(stop_ratio * 4, F.lit(1.0))
        + 0.1 * (1 - F.least(punct * 10, F.lit(1.0)))
    )
    return F.round(score, 4)


def lang_id(text: Column) -> Column:
    """Marker-n-gram language heuristic over {en,de,fr,es}; 'und'
    (undetermined) when no marker fires. Pure expression — a real
    system would swap in a fastText UDF; the plumbing is identical."""
    padded = F.concat(F.lit(" "), F.lower(text), F.lit(" "))
    scores = {
        lang: sum(
            (F.length(padded) - F.length(F.replace(padded, F.lit(m), F.lit("")))) / len(m)
            for m in markers
        )
        for lang, markers in _LANG_MARKERS.items()
    }
    best_score = F.greatest(*scores.values())
    out = F.lit("und")
    for lang in reversed(list(scores)):
        out = F.when((best_score > 0) & (scores[lang] == best_score), lang).otherwise(out)
    return out


def fingerprint(text: Column, modulus: int = (1 << 61) - 1) -> Column:
    """Deterministic rolling-hash document fingerprint (polynomial hash
    over character codes, base 257 mod 2^61-1) → hex string. Same idea
    as Rabin fingerprinting used for content-defined chunking."""
    norm = F.regexp_replace(F.lower(text), r"\s+", " ")
    # split keeps a trailing empty string (Java split limit=-1); drop it
    chars = F.filter(F.split(norm, "(?!^)"), lambda c: F.length(c) > 0)
    h = F.aggregate(
        chars,
        F.lit(0).cast("decimal(38,0)"),
        lambda acc, c: (acc * 257 + F.ascii(c)) % F.lit(modulus).cast("decimal(38,0)"),
    )
    return F.lower(F.conv(h.cast("string"), 10, 16))


# PII patterns — deliberately RE2-compatible (no lookaround/backrefs)
# so the SAME pattern runs in Spark (Java regex) and oracle engines.
_PII_PATTERNS = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b"),
    ("phone", r"\+?\d{3}[-. ]\d{3}[-. ]\d{4}\b"),
]


def scrub_pii(text: Column) -> Column:
    """Redact common PII shapes (emails, IPv4s, SSN-style ids, phone
    numbers) with typed placeholders — the corpus-hygiene step every
    training pipeline runs before publishing data. Pure chained
    regexp_replace: JVM codegen, no Python, trivially map-only at any
    scale. Order matters: emails first so user@host never half-matches
    the phone pattern."""
    out = text
    for kind, pat in _PII_PATTERNS:
        out = F.regexp_replace(out, pat, f"<{kind.upper()}>")
    return out


def pii_counts(text: Column) -> Column:
    """Count of each PII shape BEFORE scrubbing, as a map<string,int> —
    feeds audit dashboards / filtering thresholds without a second
    pass."""
    return F.map_from_arrays(
        F.array(*[F.lit(k) for k, _ in _PII_PATTERNS]),
        F.array(
            *[F.size(F.regexp_extract_all(text, F.lit(p), 0))
              for _, p in _PII_PATTERNS]
        ),
    )


# PERFORMANCE CONTRACT for the repetition helpers: no lambda captures
# an outer array expression — higher-order functions are interpreted
# (not codegen), and a captured array is RE-EVALUATED once per element,
# turning a linear pass into O(k^2..k^3) per document. Every lambda
# binds only its zip_with/filter/transform arguments; neighbor access
# uses shifted-array copies built once per row.

def _shift_left(arr: Column) -> Column:
    """arr[i] -> arr[i+1], null-padded tail (one copy per row)."""
    return F.concat(
        F.slice(arr, 2, F.greatest(F.size(arr) - 1, F.lit(0))),
        F.array(F.lit(None).cast("string")),
    )


def _run_bests(arr: Column) -> Column:
    """Run-length encode an array → array<struct(cnt, negidx)> of
    (run length, -start index) per run of equal adjacent values."""
    flags = F.zip_with(  # True where a run starts
        arr,
        F.concat(F.array(F.lit(None).cast("string")),
                 F.slice(arr, 1, F.greatest(F.size(arr) - 1, F.lit(0)))),
        lambda a, p: p.isNull() | (a != p),
    )
    starts = F.filter(
        F.zip_with(flags, F.sequence(F.lit(1), F.size(arr)),
                   lambda f, i: F.when(f, i)),
        lambda x: x.isNotNull(),
    )
    ends = F.concat(
        F.slice(starts, 2, F.greatest(F.size(starts) - 1, F.lit(0))),
        F.array(F.size(arr) + 1),
    )
    return F.zip_with(
        starts, ends,
        lambda s, e: F.struct((e - s).alias("cnt"), (-s).alias("negidx")),
    )


def _sorted_grams(toks: Column) -> Column:
    """Sorted word-2-gram array: zip each token with its successor,
    keep k-1 grams (the lone token itself when k == 1), sort."""
    return F.array_sort(
        F.slice(
            F.zip_with(toks, _shift_left(toks),
                       lambda a, b: F.concat_ws(" ", a, b)),
            1,
            F.greatest(F.size(toks) - 1, F.lit(1)),
        )
    )


def repetition_stats(text: Column) -> Column:
    """Gopher-style in-document repetition signals (public corpus-
    filtering recipe: Rae et al. 2021 §A1.1) as ONE struct column:

    - ``dup_word_frac``     1 - distinct/total tokens
    - ``top_gram``          most frequent word 2-gram (lexicographically
                            first among ties)
    - ``top_gram_count``    its occurrence count
    - ``top_gram_char_frac`` characters covered by that 2-gram / doc chars
    - ``max_token_run``     longest run of identical consecutive tokens

    Scale shape: everything is in-row array expressions — the 2-gram
    mode is a sort + run-length encoding of the sorted grams (O(k log k)
    per doc), NOT an explode + groupBy(doc, gram) shuffle; map-only at
    any corpus size. Prefer :func:`with_repetition_stats` in pipelines:
    extracting five fields from this one struct re-evaluates the whole
    chain per field, while the kernel computes each signal once per
    row."""
    toks = word_tokens(text)
    g = _sorted_grams(toks)
    # mode of the sorted gram array = array_max over its run encoding
    # on struct(cnt, -start): max count, count ties broken toward the
    # smallest start = lexicographically FIRST sorted gram
    best = F.array_max(_run_bests(g))
    max_run = F.array_max(F.transform(_run_bests(toks), lambda r: r["cnt"]))
    n_tok = F.size(toks)
    n_chars = F.length(text)
    dup_word_frac = F.when(n_tok == 0, F.lit(0.0)).otherwise(
        1.0 - F.array_size(F.array_distinct(toks)) / n_tok
    )
    top_count = F.when(n_tok == 0, F.lit(0)).otherwise(best["cnt"])
    top_gram = F.when(n_tok == 0, F.lit("")).otherwise(
        F.try_element_at(g, -best["negidx"])
    )
    top_char_frac = F.when((n_chars == 0) | (n_tok == 0), F.lit(0.0)).otherwise(
        top_count * F.length(top_gram) / n_chars
    )
    run = F.when(n_tok == 0, F.lit(0)).otherwise(max_run)
    return F.struct(
        F.round(dup_word_frac, 6).alias("dup_word_frac"),
        top_gram.alias("top_gram"),
        top_count.cast("bigint").alias("top_gram_count"),
        F.round(top_char_frac, 6).alias("top_gram_char_frac"),
        run.cast("bigint").alias("max_token_run"),
    )


def with_repetition_stats(sdf, text_col: str = "text"):
    """Scale path for :func:`repetition_stats`: appends the five
    repetition columns to ``sdf``, computed by a Counter-based Arrow
    kernel — O(k) per doc, one python pass per doc, no gram sort: the
    mode is a hash count with ties broken by min gram, which equals
    the single-Column form's lexicographically-first sorted gram
    (UTF-8 byte order equals codepoint order). Tokenization replicates
    word_tokens exactly: Java's \\s is ASCII, hence re.ASCII on the
    split. The kernel emits RAW values and the 6-dp rounding stays a
    JVM F.round, so the result is identical to extracting the fields
    of :func:`repetition_stats` (parity pinned in tests/test_llm_ops.py).
    Against the staged higher-order-function expression chain it
    replaced: 0.64 s vs 0.94 s at sf0.01 and 1.10 s vs 2.32 s at sf0.1
    (4 cores, median of 6 runs). Map-only, no shuffle; use this form
    in pipelines."""
    import re as _re

    schema = ", ".join(
        [*(f"`{f.name}` {f.dataType.simpleString()}"
           for f in sdf.schema.fields),
         "__rs_dup double", "__rs_gram string", "__rs_cnt bigint",
         "__rs_run bigint"]
    )
    ws = _re.compile(r"\s+", _re.ASCII)
    cols = list(sdf.columns)

    def run(batches):
        from collections import Counter

        import pandas as pd

        for pdf in batches:
            dup, gram, cnt, runs = [], [], [], []
            for s in pdf[text_col]:
                if s is None or not isinstance(s, str):
                    # null text: repetition_stats' size(null)=null
                    # makes every field null — agree
                    dup.append(None); gram.append(None); cnt.append(None)
                    runs.append(None)
                    continue
                toks = [t for t in ws.split(s.lower()) if t]
                n = len(toks)
                if n == 0:
                    dup.append(0.0); gram.append(""); cnt.append(0)
                    runs.append(0)
                    continue
                dup.append(1.0 - len(set(toks)) / n)
                grams = ([f"{a} {b}" for a, b in zip(toks, toks[1:])]
                         if n > 1 else [toks[0]])
                counts = Counter(grams)
                top = max(counts.values())
                best = min(g for g, c in counts.items() if c == top)
                gram.append(best); cnt.append(top)
                best_run, r = 1, 1
                for a, b in zip(toks, toks[1:]):
                    r = r + 1 if a == b else 1
                    if r > best_run:
                        best_run = r
                runs.append(best_run)
            out = pd.DataFrame({c: pdf[c] for c in cols})
            out["__rs_dup"] = dup
            out["__rs_gram"] = gram
            out["__rs_cnt"] = cnt
            out["__rs_run"] = runs
            yield out

    staged = sdf.mapInPandas(run, schema)
    n_chars = F.length(F.col(text_col))
    char_frac = F.when(
        (n_chars == 0) | (F.col("__rs_cnt") == 0), F.lit(0.0)
    ).otherwise(
        F.col("__rs_cnt").cast("int") * F.length("__rs_gram") / n_chars
    )
    return staged.select(
        *cols,
        F.round(F.col("__rs_dup"), 6).alias("dup_word_frac"),
        F.col("__rs_gram").alias("top_gram"),
        F.col("__rs_cnt").alias("top_gram_count"),
        F.round(char_frac, 6).alias("top_gram_char_frac"),
        F.col("__rs_run").alias("max_token_run"),
    )


def with_token_entropy(sdf, text_col: str = "text", out: str = "entropy"):
    """Unigram token entropy per document, in nats:
    H = -Σ_t (c_t/n)·ln(c_t/n) — low entropy flags repetitive/boiler-
    plate text, high entropy flags noise; a standard corpus-quality
    signal alongside :func:`quality_score` and repetition stats.

    Map-only: token counts come from run-length encoding the SORTED
    token array in-row (the repetition-stats machinery) — never an
    explode + groupBy(doc, token) shuffle. The fold runs in sorted-
    token order, so an oracle that folds a sorted count list adds in
    the SAME order and matches bit-for-bit. Intermediates are staged
    as columns: Catalyst's CollapseProject keeps a non-cheap alias
    referenced more than once materialized, so the token array and
    its run encoding are computed once per row."""
    toks = F.col("__te_toks")
    n = F.col("__te_n")
    staged = (
        sdf.withColumn("__te_toks", word_tokens(F.col(text_col)))
        .withColumn("__te_n", F.size(toks).cast("double"))
        .withColumn("__te_runs", _run_bests(F.array_sort(toks)))
    )
    ent = F.when(n == 0.0, F.lit(0.0)).otherwise(
        -F.aggregate(
            F.col("__te_runs"),
            F.lit(0.0),
            lambda acc, r: acc + (r["cnt"] / n) * F.log(r["cnt"] / n),
        )
    )
    return staged.withColumn(out, F.round(ent, 6)).drop(
        "__te_toks", "__te_n", "__te_runs"
    )


def chunk_spans(text: Column, max_tokens: int, overlap: int = 0) -> Column:
    """Split a document into overlapping token windows for training-
    example packing: array of structs (chunk_id, chunk_text, n_tokens).
    Stride = max_tokens - overlap; the final partial window is kept.
    All array expressions over an in-row token array — map-only, no
    shuffle, no Python; explode downstream to get one row per chunk."""
    if not 0 <= overlap < max_tokens:
        raise ValueError("need 0 <= overlap < max_tokens")
    stride = max_tokens - overlap
    toks = word_tokens(text)
    sz = F.size(toks)
    # window starts: 0, stride, 2*stride, ... < max(sz - overlap, 1)
    starts = F.sequence(
        F.lit(0),
        F.greatest(
            (F.greatest(sz - F.lit(overlap + 1), F.lit(0))) / F.lit(stride),
            F.lit(0),
        ).cast("int"),
    )
    return F.transform(
        starts,
        lambda i: F.struct(
            i.alias("chunk_id"),
            F.array_join(
                F.slice(toks, i * stride + 1, max_tokens), " "
            ).alias("chunk_text"),
            F.least(sz - i * stride, F.lit(max_tokens)).alias("n_tokens"),
        ),
    )


def hashed_linear_scores(sdf, weights, biases, text_col: str = "text",
                         labels=None, word_hash: str = "md5"):
    """FastText-style linear classifier INFERENCE over hashed
    bag-of-words features — the quality/domain-classifier scoring step
    of an LLM data pipeline (CCNet/GPT-3-recipe shape, public), run
    entirely as Column expressions with the model as plan literals.

    Model: C classes × D hashed-feature weights (train offline, pass
    the arrays here). Per doc: feature id = word_hash(token) mod D,
    score_c = bias_c + mean over tokens of weights[c][feature] — the
    fastText average-of-feature-embeddings collapsed to the linear
    case. Adds ``score_<label>`` per class plus argmax ``label``.

    100 TB shape: the model rides the plan as literals (a few KB —
    like dask broadcasting a small sklearn model to every partition
    via map_partitions); scoring is map-only, no shuffle, no Python.
    word_hash="md5" (md5_prefix60) keeps inference engine-portable so
    a SQL oracle can replay it bit-for-bit; "xxhash64" is the fast
    JVM path.
    """
    from dask_spark.functions import md5_prefix60

    C = len(weights)
    D = len(weights[0])
    if len(biases) != C or any(len(w) != D for w in weights):
        raise ValueError("weights must be C×D and biases length C")
    labels = labels or [f"c{i}" for i in range(C)]

    toks = F.filter(
        F.split(F.lower(F.col(text_col)), r"\s+"), lambda t: F.length(t) > 0
    )
    staged = sdf.withColumn("__toks", toks)
    hfn = md5_prefix60 if word_hash == "md5" else F.xxhash64
    feat = F.transform(
        F.col("__toks"), lambda t: F.pmod(hfn(t), F.lit(D)).cast("int")
    )
    staged = staged.withColumn("__feat", feat).drop("__toks")
    fcol = F.col("__feat")
    n = F.size(fcol)

    score_cols = []
    for c in range(C):
        w = F.lit([float(v) for v in weights[c]])
        s = F.when(
            n > 0,
            F.lit(float(biases[c]))
            + F.aggregate(
                fcol, F.lit(0.0), lambda acc, f: acc + F.element_at(w, f + 1)
            )
            / n,
        ).otherwise(F.lit(float(biases[c])))
        score_cols.append(s.alias(f"score_{labels[c]}"))
    out = staged.select("*", *score_cols).drop("__feat")
    scores = F.array(*[F.col(f"score_{lab}") for lab in labels])
    lab_arr = F.lit([str(lab) for lab in labels])
    # first argmax (ties -> lowest class index, same rule as numpy)
    out = out.withColumn(
        "label",
        F.element_at(lab_arr, F.array_position(scores, F.array_max(scores)).cast("int")),
    )
    return out


# --------------------------- unigram LM quality ---------------------------

class UnigramLM:
    """Fitted add-alpha unigram language model: ``logprobs`` maps the
    top-``vocab_size`` tokens to ln p(tok); everything else scores
    ``oov_logprob`` (one collapsed OOV bucket, so the model is a
    proper distribution over nv+1 types). A bounded MODEL artifact —
    CCNet (Wenzek et al. 2020) ships a pretrained LM for its
    perplexity quality gate; fitting on the corpus itself gives the
    same boilerplate-vs-noise signal with no external file."""

    def __init__(self, logprobs: dict, oov_logprob: float,
                 alpha: float, total_tokens: float):
        self.logprobs = logprobs
        self.oov_logprob = oov_logprob
        self.alpha = alpha
        self.total_tokens = total_tokens


def _top_plus_totals(counts, key_col: str, vocab_size: int):
    """One-job (top-K rows, n_types, total) over a persisted
    (key, count) aggregate — the LM fits' vocab collect and totals
    first() fused into a single union-plan collect (r15, guide §1.2:
    one driver action instead of two over the same cached table).
    Returns (top_rows_with[key_col]/count, n_types, total)."""
    top_b = (
        counts.orderBy(F.col("count").desc(), F.col(key_col))
        .limit(vocab_size)
        .select(
            key_col, "count",
            F.lit(None).cast("bigint").alias("__nt"),
            F.lit(None).cast("bigint").alias("__tt"),
        )
    )
    tot_b = counts.agg(
        F.count(F.lit(1)).alias("__nt"), F.sum("count").alias("__tt")
    ).select(
        F.lit(None).cast(dict(counts.dtypes)[key_col]).alias(key_col),
        F.lit(None).cast("bigint").alias("count"), "__nt", "__tt",
    )
    rows = top_b.unionAll(tot_b).collect()
    top = [r for r in rows if r["__nt"] is None]
    tot = next(r for r in rows if r["__nt"] is not None)
    return top, int(tot["__nt"]), tot["__tt"]


def fit_unigram_lm(sdf, text_col: str = "text", vocab_size: int = 256,
                   alpha: float = 1.0) -> UnigramLM:
    """Fit the LM with one wordcount: explode → groupBy(token) (the
    map-side combine collapses each partition to its distinct-token
    set, so the exchange carries vocabulary, never corpus), top-V by
    (count desc, token asc — deterministic ties), collected bounded by
    ``vocab_size`` rows plus one scalar total. p(tok) =
    (c + alpha) / (T + alpha·(nv+1)); the OOV bucket keeps the mass
    T - Σ c_vocab, so rare-token docs score low instead of crashing."""
    if vocab_size < 1:
        raise ValueError("vocab_size must be positive")
    if alpha <= 0:
        raise ValueError("alpha must be positive (unsmoothed OOV has "
                         "zero mass and -inf logprob)")
    toks = sdf.select(F.explode(word_tokens(F.col(text_col))).alias("tok"))
    counts = toks.groupBy("tok").count().persist()
    top, n_types, total = _top_plus_totals(counts, "tok", vocab_size)
    counts.unpersist()
    total = float(total or 0)
    nv = len(top)
    denom = total + alpha * (nv + 1)
    logprobs = {
        r["tok"]: math.log((r["count"] + alpha) / denom) for r in top
    }
    # spread the OOV bucket's mass uniformly over the OBSERVED
    # out-of-vocab type count — without the spread, a collapsed
    # bucket can out-score in-vocab tokens and invert the quality
    # signal (rare tokens must be improbable)
    rest = total - float(sum(r["count"] for r in top))
    oov = math.log(
        (rest + alpha) / denom / max(float(n_types - nv), 1.0)
    )
    return UnigramLM(logprobs, oov, alpha, total)


def with_lm_perplexity(sdf, lm: UnigramLM, text_col: str = "text",
                       out: str = "perplexity"):
    """Per-doc unigram perplexity exp(-(1/n)·Σ ln p(tok)) under a
    fitted :class:`UnigramLM` — the CCNet quality gate: LOW = fluent/
    common text, HIGH = noise (and boilerplate scores low, pairing
    with entropy/repetition for the full filter bank).

    Map-only: the token→logprob map is a LITERAL (bounded by
    vocab_size) staged once per row; the fold runs over the SORTED
    token array left-to-right, so an oracle that sums per-token
    logprobs in sorted order adds bit-identically (equal tokens are
    adjacent with equal addends, so order within ties cannot move the
    double). Lookup is O(vocab) per token — fine for the few-hundred-
    entry literal; past ~10k entries move the scoring into an Arrow
    kernel with a dict (same sorted fold, same doubles).
    Empty docs score 1.0 (exp(0) — zero tokens, zero surprisal)."""
    entries = []
    for t in sorted(lm.logprobs):
        entries.extend([F.lit(t), F.lit(lm.logprobs[t])])
    oov = F.lit(lm.oov_logprob)
    staged = (
        sdf.withColumn("__lm_toks", F.array_sort(word_tokens(F.col(text_col))))
        .withColumn("__lm_n", F.size("__lm_toks").cast("double"))
        .withColumn("__lm_map", F.create_map(*entries))
    )
    lp_sum = F.aggregate(
        F.col("__lm_toks"),
        F.lit(0.0),
        # try_element_at: ANSI mode makes element_at THROW on a
        # missing map key, so the OOV coalesce would never be reached
        lambda acc, t: acc
        + F.coalesce(F.try_element_at(F.col("__lm_map"), t), oov),
    )
    n = F.col("__lm_n")
    ppl = F.when(n == 0.0, F.lit(1.0)).otherwise(F.exp(-lp_sum / n))
    return staged.withColumn(out, F.round(ppl, 6)).drop(
        "__lm_toks", "__lm_n", "__lm_map"
    )


# ----------------------- distributed classifier training -----------------------


def _round_half_up6(x: float) -> float:
    """Driver-side twin of Spark's F.round(col, 6): shortest decimal
    repr -> decimal HALF_UP at 6 dp (java BigDecimal.valueOf path).
    Python's built-in round() works on the binary value with banker's
    ties, which diverges exactly at shortest-repr boundary values (the
    round-9 DSIR lesson) — gradient rounding is part of the training
    ALGORITHM here, so it must match what the SQL oracle's ROUND
    produces."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(
        Decimal(repr(float(x))).quantize(
            Decimal("1e-6"), rounding=ROUND_HALF_UP
        )
    )


def _double_array_literal(values) -> Column:
    """One JVM-side parse of ``array(v0D,v1D,...)`` — F.lit(list) pays a
    py4j round trip per element; repr(float) round-trips exactly
    through Spark's double-literal parser (verified incl. subnormals),
    and ConstantFolding collapses the all-literal CreateArray to one
    Literal before execution (same rationale as the CMS count table,
    operators/sketch.py _int64_array_literal)."""
    return F.expr(
        "array(" + ",".join(repr(float(v)) + "D" for v in values) + ")"
    )


def hashed_logreg_fit(sdf, label, text_col: str = "text",
                      n_features: int = 64, lr: float = 0.5,
                      iters: int = 2, word_hash: str = "md5"):
    """Distributed logistic-regression TRAINING over hashed
    bag-of-words features — the quality-classifier fit step whose
    inference twin is hashed_linear_scores (fastText-linear shape;
    dask's analog trains driver-side sklearn and broadcasts, which
    caps the training set at one machine — here the data never leaves
    the cluster and only D+2 gradient scalars reach the driver per
    iteration).

    Full-batch gradient descent: per iteration ONE pass over the
    corpus — per doc z = b + sum(w[h(tok)])/n_toks (ordered fold over
    the staged feature array, model as plan literals), err = sigma(z)
    - y, then every (feature, err/n) contribution plus two pseudo-keys
    (-1: bias gradient err, -2: log-loss) explodes into a groupBy(j)
    sum — map-side combined, so the exchange carries <= D+2 partials
    per partition regardless of corpus size (the k-means update
    shape, operators/cluster.py). Weight update w -= lr *
    round(grad/N, 6): the 6-dp gradient round is part of the
    ALGORITHM so an independent engine replaying the arithmetic
    (including IEEE exp/ln, verified bit-identical Spark/DuckDB/
    python on this platform) reproduces the trajectory exactly; with
    lr a power of two the update itself adds one exact halving and
    one rounding.

    ``label``: Column (or column name) of 0/1 doubles. Docs with zero
    tokens are dropped (their features are undefined). Returns
    (weights list[D], bias, losses list[iters] — mean log-loss of the
    model ENTERING each iteration).
    """
    from dask_spark.functions import md5_prefix60

    D = int(n_features)
    y = F.col(label) if isinstance(label, str) else label
    hfn = md5_prefix60 if word_hash == "md5" else F.xxhash64
    feat = F.transform(
        word_tokens(F.col(text_col)),
        lambda t: F.pmod(hfn(t), F.lit(D)).cast("int"),
    )
    base = (
        sdf.select(y.cast("double").alias("__y"), feat.alias("__feat"))
        .filter(F.size("__feat") > 0)
        # tokenize + hash ONCE: both GD iterations re-scan the staged
        # feature arrays, not the md5-per-token projection (the r11
        # bigram-perplexity lesson — the staging dominated the fit)
        .localCheckpoint(eager=True)
    )
    w = [0.0] * D
    b = 0.0
    losses: list[float] = []
    for _ in range(int(iters)):
        wlit = _double_array_literal(w)
        n = F.size("__feat").cast("double")
        # The z fold stays a Catalyst HOF on purpose: r12 built and
        # MEASURED the Arrow-kernel alternative (mapInPandas, per-row
        # python L2R fold — numpy reduce/reduceat reorder additions
        # pairwise past ~128 elements, so no vectorized form keeps
        # the bit contract) and it ran ~30% SLOWER at sf0.1 (2.3s vs
        # 1.7s): two python-worker Arrow round-trips per iteration
        # cost more than interpreted per-element evaluation at ~54
        # tokens/doc. The fold's interpreted cost is bounded by
        # tokens-per-doc (corpus-size-independent per row); the real
        # r11 cost was staging the features twice, fixed by the
        # checkpoint above.
        z = F.lit(float(b)) + F.aggregate(
            F.col("__feat"), F.lit(0.0),
            lambda acc, f: acc + F.element_at(wlit, f + 1),
        ) / n
        sig = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
        loss = (F.col("__y") * F.log(F.lit(1.0) + F.exp(-z))
                + (F.lit(1.0) - F.col("__y"))
                * F.log(F.lit(1.0) + F.exp(z)))
        # err staged as a REAL column: the fold is non-cheap, so the
        # downstream explode references the attribute, not the tree.
        # The bias/loss pseudo-keys ride the SAME explode as two extra
        # int elements (concat of int arrays + a when-chain on the
        # exploded key — no struct-building HOF, the Generate stays
        # codegen; one scan, so the fold evaluates once per doc)
        scored = base.select(
            "__feat", n.alias("__n"),
            (sig - F.col("__y")).alias("__err"), loss.alias("__loss"),
        )
        keys = F.concat(
            F.col("__feat"), F.array(F.lit(-1), F.lit(-2))
        )
        c = (
            F.when(F.col("j") == -1, F.col("__err"))
            .when(F.col("j") == -2, F.col("__loss"))
            .otherwise(F.col("__err") / F.col("__n"))
        )
        rows = (
            scored.select(
                F.explode(keys).alias("j"), "__err", "__loss", "__n"
            )
            .select("j", c.alias("c"))
            .groupBy("j")
            .agg(F.sum("c").alias("g"), F.count(F.lit(1)).alias("cnt"))
            .collect()
        )
        by_j = {int(r["j"]): (float(r["g"]), int(r["cnt"])) for r in rows}
        if -1 not in by_j:
            raise ValueError(
                "hashed_logreg_fit: no documents with tokens to train on"
            )
        N = by_j[-1][1]  # one bias row per surviving doc
        w = [
            w[j] - lr * _round_half_up6(by_j[j][0] / N)
            if j in by_j else w[j]
            for j in range(D)
        ]
        b = b - lr * _round_half_up6(by_j[-1][0] / N)
        losses.append(by_j[-2][0] / N)
    return w, b, losses


# --------------------------- bigram LM quality ---------------------------


class BigramLM:
    """Fitted interpolated bigram LM: p(w2|w1) = lam * p_ML(w2|w1) +
    (1-lam) * p_uni(w2), with p_ML from a bounded top-``table_size``
    bigram table (0 outside it) and the unigram backoff from the same
    add-alpha fit the CCNet gate uses. All probabilities are stored
    as the exact division of the corpus counts, so an engine
    replaying the counts divides to bit-identical doubles."""

    def __init__(self, bigram_probs: dict, unigram_probs: dict,
                 oov_prob: float, lam: float):
        self.bigram_probs = bigram_probs
        self.unigram_probs = unigram_probs
        self.oov_prob = oov_prob
        self.lam = lam


def fit_bigram_lm(sdf, text_col: str = "text", vocab_size: int = 256,
                  table_size: int = 512, alpha: float = 1.0,
                  lam: float = 0.75, _staged=None) -> BigramLM:
    """Fit the interpolated bigram LM with THREE bounded shuffles:
    one wordcount (vocabulary-keyed, map-side combined — the unigram
    backoff), one bigram count over IN-ROW adjacent pairs (pair-keyed;
    tokens never leave their row before the explode), and one
    left-context count restricted to the top-table lefts (a
    table_size-bounded literal filter). Driver state: vocab_size +
    table_size + |lefts| scalars — a broadcastable model artifact,
    like CCNet's shipped LM."""
    if alpha <= 0:
        raise ValueError("alpha must be positive")
    if not 0.0 < lam < 1.0:
        raise ValueError("lam must be in (0, 1)")
    # tokenize the corpus ONCE for both the wordcount and the pair
    # count (and, via _staged, the trigram layer): the interpreted
    # tokenizer HOF was the dominant per-scan cost of the LM fits
    own_staged = _staged is None
    staged = (sdf.select(word_tokens(F.col(text_col)).alias("__w"))
              .persist() if own_staged else _staged)
    toks = staged.select(F.explode(F.col("__w")).alias("tok"))
    counts = toks.groupBy("tok").count().persist()
    top, n_types, total = _top_plus_totals(counts, "tok", vocab_size)
    counts.unpersist()
    total = float(total or 0)
    nv = len(top)
    denom = total + alpha * (nv + 1)
    unigram_probs = {r["tok"]: (r["count"] + alpha) / denom for r in top}
    rest = total - float(sum(r["count"] for r in top))
    oov_prob = (rest + alpha) / denom / max(float(n_types - nv), 1.0)

    w = F.col("__w")
    npairs = F.greatest(F.size(w) - 1, F.lit(0))
    pair_arr = F.zip_with(
        F.slice(w, 1, npairs),
        F.slice(w, 2, npairs),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    pairs = staged.select(F.explode(pair_arr).alias("pair"))
    # one pair-count aggregation feeds BOTH the top table and the
    # left-context totals (sum of pair counts grouped by w1 == the
    # occurrence count) — no second corpus scan
    pc = pairs.groupBy("pair").count().persist()
    top_bg = (
        pc.orderBy(F.col("count").desc(), F.col("pair"))
        .limit(table_size).collect()
    )
    lefts = sorted({r["pair"].split(" ", 1)[0] for r in top_bg})
    lc = {
        r["w1"]: float(r["n"])
        for r in pc.select(
            F.split_part(F.col("pair"), F.lit(" "), F.lit(1)).alias("w1"),
            "count",
        )
        .filter(F.col("w1").isin(lefts))
        .groupBy("w1").agg(F.sum("count").alias("n")).collect()
    }
    pc.unpersist()
    bigram_probs = {
        r["pair"]: float(r["count"]) / lc[r["pair"].split(" ", 1)[0]]
        for r in top_bg
    }
    if own_staged:
        staged.unpersist()
    return BigramLM(bigram_probs, unigram_probs, oov_prob, lam)


def _esc_sql(k: str) -> str:
    return str(k).replace("\\", "\\\\").replace("'", "\\'")


def _double_map_literal(d: dict) -> Column:
    """One JVM-side parse of ``map('k', vD, ...)`` — string keys are
    backslash-escaped; F.create_map(*[F.lit per entry]) pays a py4j
    round trip per element (~0.9s for 768 entries per plan build,
    same lesson as sketch.py _int64_array_literal)."""
    if not d:
        return F.expr("CAST(map() AS MAP<STRING, DOUBLE>)")
    parts = [
        f"'{_esc_sql(k)}', {repr(float(d[k]))}D" for k in sorted(d)
    ]
    return F.expr("map(" + ", ".join(parts) + ")")


def _nested_map_literal(dd: dict) -> Column:
    """map<string, map<string, double>> literal in one parse — the
    two-level lookup structure: literal-map probes are LINEAR scans
    (GetMapValue over ArrayBasedMapData), so splitting a 512-entry
    pair table by its left token cuts the per-probe comparisons from
    ~512 to ~|lefts| + ~|pairs-per-left| (measured 2x on the bigram
    scorer) while staying plain-SQL-replayable — no hash, no UDF."""
    if not dd:
        return F.expr(
            "CAST(map() AS MAP<STRING, MAP<STRING, DOUBLE>>)"
        )
    outer = []
    for k1 in sorted(dd):
        inner = ", ".join(
            f"'{_esc_sql(k2)}', {repr(float(v))}D"
            for k2, v in sorted(dd[k1].items())
        )
        outer.append(f"'{_esc_sql(k1)}', map({inner})")
    return F.expr("map(" + ", ".join(outer) + ")")


def with_bigram_perplexity(sdf, lm: BigramLM, text_col: str = "text",
                           out: str = "bigram_perplexity"):
    """Per-doc interpolated bigram perplexity exp(-(1/(n-1)) * sum of
    ln p(w2|w1)) — the step up from the unigram CCNet gate: catches
    shuffled-word salads the unigram model scores as fluent.

    Map-only; both model maps are bounded literals. The per-pair log
    probs are SORTED BY VALUE before the left-to-right fold — a
    deterministic total order over doubles that both engines
    reproduce (equal values adjacent), so the oracle's list_sort +
    ordered reduce adds bit-identically. Docs with fewer than two
    tokens score 1.0."""
    oov = F.lit(float(lm.oov_prob))
    lam = F.lit(float(lm.lam))
    one_m = F.lit(1.0 - float(lm.lam))

    nested: dict = {}
    for pair, p in lm.bigram_probs.items():
        w1, w2 = pair.split(" ", 1)
        nested.setdefault(w1, {})[w2] = p
    w = F.col("__bg_toks")
    npairs = F.greatest(F.size(w) - 1, F.lit(0))
    staged = (
        sdf.withColumn("__bg_toks", word_tokens(F.col(text_col)))
        .withColumn("__bg_map", _nested_map_literal(nested))
        .withColumn("__bg_uni", _double_map_literal(lm.unigram_probs))
    )
    # ONE zip_with builds the per-pair log prob directly (no
    # intermediate struct array / second transform pass); the nested
    # w1 -> (w2 -> p) lookup replaces a 512-entry linear probe with
    # |lefts| + |per-left| comparisons
    lps = F.zip_with(
        F.slice(w, 1, npairs),
        F.slice(w, 2, npairs),
        lambda a, b: F.log(
            lam * F.coalesce(
                F.try_element_at(
                    F.try_element_at(F.col("__bg_map"), a), b
                ),
                F.lit(0.0),
            )
            + one_m * F.coalesce(
                F.try_element_at(F.col("__bg_uni"), b), oov
            )
        ),
    )
    lp_sum = F.aggregate(
        F.array_sort(lps), F.lit(0.0), lambda acc, v: acc + v
    )
    n = npairs.cast("double")
    ppl = F.when(n == 0.0, F.lit(1.0)).otherwise(F.exp(-lp_sum / n))
    return staged.withColumn(out, F.round(ppl, 6)).drop(
        "__bg_toks", "__bg_map", "__bg_uni"
    )


# ----------------------- KN-style trigram LM quality -----------------------


class TrigramLM:
    """Fitted trigram LM with absolute discounting (Kneser-Ney's
    discount/continuation shape, Chen & Goodman 1999) over a bounded
    top-``table_size`` trigram table, interpolating into the shipped
    BigramLM: p(w3|w1 w2) = (c3 - D)/c2 + (D * N1+(w1 w2 *)/c2) *
    p_bg(w3|w2) when the trigram is in the table, else p_bg — the
    bounded-table analogue of the bigram model's clipped p_ML (like
    it, the distribution is not renormalized over the full vocab;
    it's a quality signal, not a generator). All stored
    probabilities are exact divisions of integer corpus counts, so
    an engine replaying the counts divides to bit-identical
    doubles."""

    def __init__(self, tri_disc: dict, ctx_lambda: dict, D: float,
                 bigram: BigramLM):
        self.tri_disc = tri_disc        # (ctx "w1 w2") -> {w3: disc}
        self.ctx_lambda = ctx_lambda    # ctx -> D * N1+ / c2
        self.D = D
        self.bigram = bigram


def fit_trigram_lm(sdf, text_col: str = "text", table_size: int = 512,
                   D: float = 0.75, bigram: BigramLM | None = None,
                   **bigram_kw) -> TrigramLM:
    """Fit the trigram layer with ONE additional bounded shuffle on
    top of fit_bigram_lm's three: an in-row trigram build (tokens
    never leave their row before the explode) feeding one
    (ctx, w3)-keyed count whose single persisted aggregate supplies
    BOTH the top table and the per-context stats (c2 = sum of counts,
    N1+ = distinct-w3 row count) — no second corpus scan. Driver
    state: table_size + |contexts| scalars, a broadcastable model
    artifact (KenLM's shipped-model shape)."""
    if not 0.0 < D < 1.0:
        raise ValueError("D must be in (0, 1)")
    staged = sdf.select(word_tokens(F.col(text_col)).alias("__w")).persist()
    if bigram is None:
        bigram = fit_bigram_lm(sdf, text_col, _staged=staged, **bigram_kw)
    w = F.col("__w")
    n3 = F.greatest(F.size(w) - 2, F.lit(0))
    ctxs = F.zip_with(
        F.slice(w, 1, n3), F.slice(w, 2, n3),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    tris = F.zip_with(
        ctxs, F.slice(w, 3, n3),
        lambda c, t: F.struct(c.alias("ctx"), t.alias("w3")),
    )
    tc = (
        staged.select(F.explode(tris).alias("t"))
        .select("t.ctx", "t.w3")
        .groupBy("ctx", "w3").count().persist()
    )
    top = (
        tc.orderBy(F.col("count").desc(), F.col("ctx"), F.col("w3"))
        .limit(table_size).collect()
    )
    ctx_set = sorted({r["ctx"] for r in top})
    stats = {
        r["ctx"]: (float(r["c2"]), float(r["n1p"]))
        for r in tc.filter(F.col("ctx").isin(ctx_set))
        .groupBy("ctx")
        .agg(F.sum("count").alias("c2"), F.count(F.lit(1)).alias("n1p"))
        .collect()
    }
    tc.unpersist()
    staged.unpersist()
    tri_disc: dict = {}
    for r in top:
        c2 = stats[r["ctx"]][0]
        tri_disc.setdefault(r["ctx"], {})[r["w3"]] = \
            (float(r["count"]) - D) / c2
    ctx_lambda = {c: D * n1p / c2 for c, (c2, n1p) in stats.items()}
    return TrigramLM(tri_disc, ctx_lambda, D, bigram)


def with_trigram_perplexity(sdf, lm: TrigramLM, text_col: str = "text",
                            out: str = "trigram_perplexity"):
    """Per-doc trigram perplexity exp(-(1/(n-2)) * sum of
    ln p(w3|w1 w2)) — the step up from the bigram gate: catches
    locally-plausible bigram chains with no three-word coherence.

    Map-only; all four model maps (trigram discounts, context
    lambdas, bigram table, unigram backoff) ride as bounded literals.
    Per-triple log probs are SORTED BY VALUE before the fold (the
    bigram scorer's determinism contract), so both engines add
    bit-identically. Docs with fewer than three tokens score 1.0."""
    bg = lm.bigram
    oov = F.lit(float(bg.oov_prob))
    lam_bg = F.lit(float(bg.lam))
    one_m = F.lit(1.0 - float(bg.lam))
    nested_bg: dict = {}
    for pair, p in bg.bigram_probs.items():
        w1, w2 = pair.split(" ", 1)
        nested_bg.setdefault(w1, {})[w2] = p

    w = F.col("__tg_toks")
    n3 = F.greatest(F.size(w) - 2, F.lit(0))
    ctxs = F.zip_with(
        F.slice(w, 1, n3), F.slice(w, 2, n3),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    staged = (
        sdf.withColumn("__tg_toks", word_tokens(F.col(text_col)))
        .withColumn("__tg_tri", _nested_map_literal(lm.tri_disc))
        .withColumn("__tg_lam", _double_map_literal(lm.ctx_lambda))
        .withColumn("__tg_bg", _nested_map_literal(nested_bg))
        .withColumn("__tg_uni", _double_map_literal(bg.unigram_probs))
    )

    def logp(ctx, w3):
        w2 = F.split_part(ctx, F.lit(" "), F.lit(2))
        pbg = lam_bg * F.coalesce(
            F.try_element_at(
                F.try_element_at(F.col("__tg_bg"), w2), w3
            ),
            F.lit(0.0),
        ) + one_m * F.coalesce(
            F.try_element_at(F.col("__tg_uni"), w3), oov
        )
        disc = F.try_element_at(
            F.try_element_at(F.col("__tg_tri"), ctx), w3
        )
        return F.log(
            F.when(
                disc.isNotNull(),
                disc + F.try_element_at(F.col("__tg_lam"), ctx) * pbg,
            ).otherwise(pbg)
        )

    lps = F.zip_with(ctxs, F.slice(w, 3, n3), logp)
    lp_sum = F.aggregate(
        F.array_sort(lps), F.lit(0.0), lambda acc, v: acc + v
    )
    n = n3.cast("double")
    ppl = F.when(n == 0.0, F.lit(1.0)).otherwise(F.exp(-lp_sum / n))
    return staged.withColumn(out, F.round(ppl, 6)).drop(
        "__tg_toks", "__tg_tri", "__tg_lam", "__tg_bg", "__tg_uni"
    )


# ------------------------------ PMI phrases ------------------------------


def pmi_bigrams(sdf, text_col: str = "text", min_count: int = 5,
                topk: int = 50, round_dp: int = 6):
    """Pointwise mutual information over adjacent word pairs — the
    classic phrase-mining statistic (Church & Hanks 1990; the
    word2vec-era phrase detector): pmi(x, y) = ln(p(x,y)/(p(x)p(y)))
    with p(x,y) from the in-row adjacent-pair stream and p(x) from
    the token stream. High-PMI pairs co-occur far above chance —
    collocations worth fusing into single tokens before training.

    Spark DataFrame in → DataFrame(bigram, n, pmi), top-k by
    (pmi desc, bigram), pairs below ``min_count`` dropped (PMI is
    noise-dominated at tiny counts). Exchanges: one vocabulary-keyed
    wordcount + one pair-keyed count (both map-side combined), then
    the pair table joins the unigram counts on each side's word —
    vocabulary-bounded joins AQE broadcasts at registry scale. The
    pmi double is computed with ONE pinned expression shape
    (c_xy·N·N as the numerator product, N_pairs·c_x·c_y as the
    denominator, one division, one ln) so an independent engine
    reproduces it bit-for-bit; both scalar totals are exact integer
    aggregates."""
    toks = sdf.select(F.explode(word_tokens(F.col(text_col))).alias("tok"))
    uni = toks.groupBy("tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    ).persist()
    n_tok = uni.agg(F.sum("c")).first()[0] or 0

    w = F.col("__w")
    npairs = F.greatest(F.size(w) - 1, F.lit(0))
    pair_arr = F.zip_with(
        F.slice(w, 1, npairs), F.slice(w, 2, npairs),
        lambda a, b: F.struct(a.alias("x"), b.alias("y")),
    )
    pairs = (
        sdf.select(word_tokens(F.col(text_col)).alias("__w"))
        .select(F.explode(pair_arr).alias("p"))
        .select("p.x", "p.y")
    )
    pc = pairs.groupBy("x", "y").agg(
        F.count(F.lit(1)).cast("bigint").alias("cxy")
    ).persist()
    n_pairs = pc.agg(F.sum("cxy")).first()[0] or 0
    if n_tok == 0 or n_pairs == 0:
        uni.unpersist(); pc.unpersist()
        return pc.select(
            F.concat_ws(" ", "x", "y").alias("bigram"),
            F.col("cxy").alias("n"), F.lit(0.0).alias("pmi"),
        ).filter(F.lit(False))
    ux = uni.select(F.col("tok").alias("x"), F.col("c").alias("cx"))
    uy = uni.select(F.col("tok").alias("y"), F.col("c").alias("cy"))
    nt = F.lit(float(n_tok))
    npr = F.lit(float(n_pairs))
    out = (
        pc.filter(F.col("cxy") >= int(min_count))
        .join(ux, "x").join(uy, "y")
        .select(
            F.concat_ws(" ", "x", "y").alias("bigram"),
            F.col("cxy").alias("n"),
            F.round(
                F.log(
                    (F.col("cxy").cast("double") * nt * nt)
                    / (npr * F.col("cx").cast("double")
                       * F.col("cy").cast("double"))
                ),
                round_dp,
            ).alias("pmi"),
        )
        .orderBy(F.col("pmi").desc(), F.col("bigram"))
        .limit(int(topk))
    )
    return out


class NaiveBayesModel:
    """Fitted multinomial Naive Bayes over hashed bag-of-words:
    ``labels`` (sorted ascending — the tie-break order), per-class
    ``log_priors`` ln(n_c/N) and ``logliks`` C×D ln((c+α)/(t_c+αD)).
    A bounded artifact (C·D doubles) that rides prediction plans as
    literals, like the fastText-linear weights."""

    def __init__(self, labels, log_priors, logliks, n_features, alpha,
                 word_hash):
        self.labels = labels
        self.log_priors = log_priors
        self.logliks = logliks
        self.n_features = n_features
        self.alpha = alpha
        self.word_hash = word_hash


def hashed_nb_fit(sdf, label_col: str, text_col: str = "text",
                  n_features: int = 64, alpha: float = 1.0,
                  word_hash: str = "md5") -> NaiveBayesModel:
    """Multinomial Naive Bayes TRAINING over hashed bag-of-words —
    the counting-only sibling of hashed_logreg_fit (one corpus pass,
    no iterations; the classic fast baseline for language/domain/
    quality routing).

    100 TB shape: ONE explode → groupBy(label, feature) count — the
    map-side combine collapses every partition to ≤ C·D partials, so
    the exchange is model-sized, never corpus-sized; priors are a
    C-key count. The driver sees C·D + C exact integers and takes
    every ln in python (IEEE ln is bit-identical python↔Spark↔DuckDB
    on this platform — the classifier_train contract), so a SQL
    oracle recomputing the same counts reproduces the model
    bit-for-bit."""
    import math

    from dask_spark.functions import md5_prefix60

    D = int(n_features)
    if D < 1:
        raise ValueError(f"n_features must be >= 1, got {D}")
    a = float(alpha)
    hfn = md5_prefix60 if word_hash == "md5" else F.xxhash64
    base = sdf.filter(F.col(label_col).isNotNull())
    feat = F.transform(
        word_tokens(F.col(text_col)),
        lambda t: F.pmod(hfn(t), F.lit(D)).cast("int"),
    )
    # ONE driver action for both model tables (r16, the §2.10 union
    # trick): class priors ride as __f = NULL rows unioned with the
    # (label, feature) counts — the two aggregates are independent,
    # so fusing them halves the fit's driver round trips. Consumption
    # is dict-keyed, order-insensitive.
    pri: dict = {}
    cnt: dict = {}
    pri_plan = (
        base.groupBy(F.col(label_col).alias("__l"))
        .agg(F.count(F.lit(1)).alias("__c"))
        .select("__l", F.lit(None).cast("int").alias("__f"), "__c")
    )
    cnt_plan = (
        base.select(
            F.col(label_col).alias("__l"), F.explode(feat).alias("__f")
        )
        .groupBy("__l", "__f").agg(F.count(F.lit(1)).alias("__c"))
        .select("__l", "__f", "__c")
    )
    for r in pri_plan.unionByName(cnt_plan).collect():
        if r["__f"] is None:
            pri[r["__l"]] = r["__c"]
        else:
            cnt[(r["__l"], r["__f"])] = r["__c"]
    labels = sorted(pri)
    N = sum(pri.values())
    log_priors = [math.log(float(pri[lbl]) / float(N)) for lbl in labels]
    logliks = []
    for lbl in labels:
        tot = sum(cnt.get((lbl, f), 0) for f in range(D))
        logliks.append([
            math.log((cnt.get((lbl, f), 0) + a) / (tot + a * D))
            for f in range(D)
        ])
    return NaiveBayesModel(labels, log_priors, logliks, D, a, word_hash)


def hashed_nb_predict(sdf, model: NaiveBayesModel,
                      text_col: str = "text", round_dp: int = 6):
    """Score every row against a fitted NaiveBayesModel → adds
    ``pred`` (argmax class, first-max tie-break in label order) and
    ``score`` (winning log-posterior, rounded). Map-only: the model
    rides as C+1 one-parse array literals, the per-class fold runs
    over the SORTED hashed-feature array so an oracle's ordered list
    fold adds bit-identically; token-less docs score priors only."""
    from dask_spark.functions import md5_prefix60

    D = model.n_features
    hfn = md5_prefix60 if model.word_hash == "md5" else F.xxhash64
    feat = F.array_sort(F.transform(
        word_tokens(F.col(text_col)),
        lambda t: F.pmod(hfn(t), F.lit(D)).cast("int"),
    ))
    staged = sdf.withColumn("__feat", feat)
    def _fold(w):  # closure factory: a default arg would become a
        return lambda acc, f: acc + F.element_at(w, f + 1)  # 3rd lambda param

    score_cols = []
    for c, lbl in enumerate(model.labels):
        wlit = _double_array_literal(model.logliks[c])
        s = F.lit(float(model.log_priors[c])) + F.aggregate(
            F.col("__feat"), F.lit(0.0), _fold(wlit),
        )
        score_cols.append(s.alias(f"__s{c}"))
    staged = staged.select("*", *score_cols)
    scores = F.array(*[F.col(f"__s{c}") for c in range(len(model.labels))])
    lab_arr = F.lit([str(lbl) for lbl in model.labels])
    out = staged.select(
        *[c for c in sdf.columns],
        F.element_at(
            lab_arr,
            F.array_position(scores, F.array_max(scores)).cast("int"),
        ).alias("pred"),
        F.round(F.array_max(scores), round_dp).alias("score"),
    )
    return out


def readability_stats(text: Column):
    """(n_words, n_sentences, n_syllables, flesch) Columns — the
    Flesch reading-ease gate (Flesch 1948; Kincaid's military-manual
    recalibrations made it the standard automated readability
    screen): 206.835 − 1.015·(words/sentences) −
    84.6·(syllables/words). Very low scores flag legalese/boilerplate,
    absurdly high ones flag word salad — a cheap corpus-quality axis
    orthogonal to the LM-perplexity gates.

    Pure JVM expressions, map-only: sentences = runs of [.!?]
    (min 1 so fragments still score), syllables = vowel-group count
    (the classic approximation — hyphenation dictionaries don't
    distribute); word-less docs score null. The float chain is one
    pinned left-to-right expression, identical in an ANSI oracle."""
    toks = word_tokens(text)
    w = F.size(toks)
    s = F.greatest(
        F.size(F.regexp_extract_all(text, F.lit(r"[.!?]+"), 0)),
        F.lit(1),
    )
    syl = F.size(
        F.regexp_extract_all(F.lower(text), F.lit(r"[aeiouy]+"), 0)
    )
    flesch = F.when(
        w > 0,
        F.round(
            F.lit(206.835)
            - F.lit(1.015) * (w.cast("double") / s.cast("double"))
            - F.lit(84.6) * (syl.cast("double") / w.cast("double")),
            6,
        ),
    )
    return (
        w.alias("n_words"),
        s.alias("n_sentences"),
        syl.alias("n_syllables"),
        flesch.alias("flesch"),
    )


def zipf_fit(sdf, text_col: str = "text", top_k: int = 256):
    """Zipf-law fit over the top-``top_k`` token frequencies → one-row
    DataFrame(n_types, slope, r2): OLS of ln(freq) on ln(rank) —
    natural language sits near slope −1 with high r² (Zipf 1949);
    synthetic/templated corpora bend the curve. A corpus-health gate
    beside entropy and the LM-perplexity family.

    One wordcount shuffle (vocabulary-keyed, map-side combined) +
    a top_k-bounded driver collect with (count desc, token asc)
    deterministic ties; the four OLS sums fold LEFT-TO-RIGHT in rank
    order over IEEE ln values (bit-identical engines), so an oracle's
    ordered list_reduce replays the fit exactly."""
    import math

    toks = sdf.select(F.explode(word_tokens(F.col(text_col))).alias("t"))
    top = (
        toks.groupBy("t").count()
        .orderBy(F.col("count").desc(), F.col("t"))
        .limit(int(top_k)).collect()
    )
    n = len(top)
    if n < 2:
        raise ValueError("zipf_fit: need at least 2 token types")
    sx = sy = sxy = sxx = syy = 0.0
    for rank, r in enumerate(top, start=1):
        lx = math.log(float(rank))
        ly = math.log(float(r["count"]))
        sx = sx + lx
        sy = sy + ly
        sxy = sxy + lx * ly
        sxx = sxx + lx * lx
        syy = syy + ly * ly
    den = n * sxx - sx * sx
    deny = n * syy - sy * sy
    slope = (n * sxy - sx * sy) / den
    r2 = (
        ((n * sxy - sx * sy) * (n * sxy - sx * sy)) / (den * deny)
        if deny != 0 else None
    )
    spark = sdf.sparkSession
    return spark.createDataFrame(
        [(n, round(slope, 6), None if r2 is None else round(r2, 6))],
        "n_types int, slope double, r2 double",
    )
