"""Text analysis operators: language id, quality scoring, token counting,
document fingerprinting. All pure Column expressions (JVM, codegen) —
these run in the scan stage at corpus scale, no shuffle, no Python."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# compact stopword lists for the n-gram/stopword language heuristic
_STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "it", "for", "on"],
    "de": ["der", "die", "das", "und", "ist", "ein", "zu", "den", "von", "mit"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "es", "los", "por"],
    "fr": ["le", "la", "de", "et", "un", "est", "que", "les", "des", "en"],
}


def tokens(text: Column) -> Column:
    return F.split(F.trim(F.lower(text)), r"\s+")


def token_count(text: Column) -> Column:
    """Whitespace token count."""
    return F.size(tokens(text))


def token_count_bpe_ish(text: Column) -> Column:
    """BPE-ish subword proxy: count word pieces + digits + punctuation runs
    (a deterministic stand-in for a real tokenizer's token count)."""
    return F.size(
        F.regexp_extract_all(
            F.lower(text), F.lit(r"[a-z]{1,4}|[0-9]+|[^a-z0-9\s]"), F.lit(0)
        )
    )


def stopword_ratio(text: Column, lang: str = "en") -> Column:
    toks = tokens(text)
    sw = F.array(*[F.lit(w) for w in _STOPWORDS[lang]])
    n_stop = F.size(F.array_intersect(F.array_distinct(toks), sw))
    return n_stop / F.greatest(F.size(F.array_distinct(toks)), F.lit(1))


def language_id(text: Column) -> Column:
    """Stopword-overlap language heuristic: score each candidate language
    by distinct-stopword hits, return the argmax ('und' if no hits).
    The production shape for a real model is identical — a scan-stage
    expression or Arrow-batched classifier, keyed argmax at the end."""
    toks = F.array_distinct(tokens(text))
    scored = None
    for lang, words in _STOPWORDS.items():
        sw = F.array(*[F.lit(w) for w in words])
        s = F.struct(
            F.size(F.array_intersect(toks, sw)).alias("score"),
            F.lit(lang).alias("lang"),
        )
        scored = s if scored is None else F.greatest(scored, s)
    best = scored
    return F.when(best["score"] > 0, best["lang"]).otherwise(F.lit("und"))


def quality_score(text: Column) -> Column:
    """Heuristic quality in [0,1]: rewards reasonable length and word
    size, penalizes punctuation/digit soup — the standard cheap pre-filter
    before expensive model scoring."""
    n_chars = F.length(text)
    n_toks = token_count(text)
    mean_word = n_chars / F.greatest(n_toks, F.lit(1))
    punct = F.length(F.regexp_replace(text, r"[\w\s]", ""))
    punct_ratio = punct / F.greatest(n_chars, F.lit(1))
    len_score = F.least(n_toks / F.lit(50.0), F.lit(1.0))
    word_score = F.when((mean_word >= 3) & (mean_word <= 10), 1.0).otherwise(0.5)
    return F.round(
        F.greatest(
            len_score * 0.5 + word_score * 0.3 + (1 - punct_ratio) * 0.2
            - F.lit(0.0),
            F.lit(0.0),
        ),
        6,
    )


def normalize_text(text: Column) -> Column:
    """Canonical form for fingerprinting: lowercase, collapse whitespace,
    strip punctuation."""
    t = F.lower(text)
    t = F.regexp_replace(t, r"[^\w\s]", "")
    t = F.regexp_replace(t, r"\s+", " ")
    return F.trim(t)


def doc_fingerprint(text: Column) -> Column:
    """Deterministic document fingerprint: md5 of the normalized text.
    (The reference idiom would be a rolling hash; md5-of-normalized is the
    content-defined equivalent with a SQL-portable oracle.)"""
    return F.md5(normalize_text(text))


def ngrams(text: Column, n: int = 2) -> Column:
    """Word n-grams as an array column — scan-stage expression, no
    Python. Built by zipping the token array against its own shifted
    slices (the ``with_shingle_hashes`` idiom): every array argument is
    evaluated ONCE PER ROW outside the lambdas. The r11-and-earlier
    spelling referenced the split() inside a ``transform`` lambda
    (``element_at(w, i+j)``), and higher-order-function lambdas are
    interpreted per element with no subexpression elimination — the
    whole-document regex split re-ran per output n-gram, O(doc_len²)
    per doc (measured r12: 5.7 s to build bigrams for 5,000 docs /
    271k tokens at sf0.1 vs 0.17 s for the token arrays themselves;
    this spelling builds the same arrays in ~0.2 s).

    zip_with pads the shorter side with nulls, which concat_ws skips —
    the final slice trims those padded tails, so docs shorter than n
    yield an empty array exactly like the old ``when`` guard (null
    text also still yields an empty array, via the coalesce)."""
    w = tokens(text)
    if n == 1:
        return F.coalesce(w, F.array().cast("array<string>"))
    z = w
    for j in range(1, n):
        z = F.zip_with(
            z, F.slice(w, j + 1, F.greatest(F.size(w) - j, F.lit(0))),
            lambda a, b: F.concat_ws(" ", a, b))
    out = F.slice(z, 1, F.greatest(F.size(w) - (n - 1), F.lit(0)))
    return F.coalesce(out, F.array().cast("array<string>"))


def ngram_counts(df, text_col: str, *, n: int = 2,
                 top_k: int | None = None):
    """Corpus-level n-gram frequencies -> (ngram, n) ordered by count
    desc then ngram (deterministic under ties). One explode + one
    hash-shuffle on the ngram string — the corpus-statistics building
    block (vocabulary building, boilerplate detection, contamination
    checks). ``top_k`` caps the result via the same total order."""
    out = (
        df.select(F.explode(ngrams(F.col(text_col), n)).alias("ngram"))
        .groupBy("ngram").agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("ngram"))
    )
    return out.limit(top_k) if top_k is not None else out


def _guard_global_window(by, global_ok: bool, what: str) -> None:
    """``by=None`` builds a GLOBAL cume_dist window — every row through
    ONE task's sort. Fine for a bounded sample; a silent serialization
    point for a 100 TB corpus. Require the caller to say so."""
    if by is None and not global_ok:
        raise ValueError(
            f"{what}: by=None sorts the whole input in a single "
            "partition (global window). Pass by=<group column> (e.g. "
            "per-language), or global_ok=True if the input is known "
            "to be driver-scale.")


def filter_by_quality_quantile(df, text_col: str, *, q: float,
                               by: str | None = None,
                               global_ok: bool = False):
    """Keep documents whose quality_score sits at or above the ``q``
    percent-rank of the corpus (optionally within each ``by`` group —
    e.g. per language, so low-resource languages aren't starved by a
    global cutoff). The cutoff is ``cume_dist`` — count(score <= mine)/n
    — which is integer-exact and reproducible across engines (an
    interpolated quantile threshold's last-ulp arithmetic can flip
    boundary membership) and behaves under heavy ties: a tie-block at
    the top keeps cume_dist 1.0, where rank-based percent_rank would
    mark the whole block below the cutoff. One window shuffle
    (per-group; ``by=None`` is a single-partition global sort and
    raises unless ``global_ok=True`` — r8 guard)."""
    from pyspark.sql import Window

    _guard_global_window(by, global_ok, "filter_by_quality_quantile")
    w = Window.partitionBy(*([by] if by else [])).orderBy(
        quality_score(F.col(text_col)))
    return (
        df.withColumn("__cd", F.cume_dist().over(w))
        .filter(F.col("__cd") >= q)
        .drop("__cd")
    )


def _ngram_run_stats(grams: Column) -> Column:
    """Fold a gram array into (maxrun, dup, total) occurrence counts:
    sort the array, then one ``aggregate`` pass tracks the current run
    length, the longest run (count of the most frequent gram), and the
    number of occurrences belonging to grams seen >= 2 times. Pure
    scan-stage expression — no explode, no shuffle, state is one small
    struct per row regardless of document length."""
    s = F.array_sort(grams)
    init = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).alias("run"),
        F.lit(0).alias("maxrun"),
        F.lit(0).alias("dup"),
    )

    def step(acc, x):
        same = acc["prev"].eqNullSafe(x)
        run = F.when(same, acc["run"] + 1).otherwise(F.lit(1))
        # when a run reaches 2, the first occurrence retroactively counts
        dup = acc["dup"] + F.when(same & (acc["run"] == 1), 2).when(
            same, 1).otherwise(0)
        return F.struct(
            x.alias("prev"), run.alias("run"),
            F.greatest(acc["maxrun"], run).alias("maxrun"),
            dup.alias("dup"),
        )

    agg = F.aggregate(s, init, step)
    return F.struct(
        agg["maxrun"].alias("maxrun"), agg["dup"].alias("dup"),
        F.size(grams).alias("total"),
    )


def repetition_stats(text: Column) -> Column:
    """The integer core of the Gopher repetition metrics as one struct
    ``(maxrun2, total2, dup3, total3)``: 2-gram top count / total and
    3-gram duplicate occurrences / total, from ONE tokenization pass per
    document in an Arrow batch. Identical integers to the JVM
    sorted-array fold (:func:`_ngram_run_stats` over 2- and 3-grams),
    pinned over the gate corpus and the tokenizer's edge shapes by
    test_repetition_pandas_impl_bit_equal; ~40x faster per doc than that
    interpreted fold at sf0.1 (the r7 gate's slowest row, 71 s ->
    seconds)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _stats(texts):
        import re
        from collections import Counter

        # tokenizer parity with tokens(): Spark's trim strips SPACES
        # only (not Java String.trim's <=0x20 — pinned by the
        # whitespace-only edge row in the bit-equality test); Spark's
        # split is Pattern.split(limit=-1), which KEEPS leading and
        # trailing empty fields, exactly like re.split; Java regex \s
        # is ASCII [ \t\n\x0B\f\r] == re.ASCII's
        ws = re.compile(r"\s+", re.ASCII)
        rows = []
        for t in texts:
            if t is None:
                rows.append((0, 0, 0, 0))
                continue
            toks = ws.split(t.lower().strip(" "))
            n2 = len(toks) - 1
            m2 = max(Counter(zip(toks, toks[1:])).values()) if n2 >= 1 else 0
            n3 = len(toks) - 2
            d3 = (sum(c for c in
                      Counter(zip(toks, toks[1:], toks[2:])).values()
                      if c >= 2) if n3 >= 1 else 0)
            rows.append((m2, max(n2, 0), d3, max(n3, 0)))
        return pd.DataFrame(
            rows, columns=["maxrun2", "total2", "dup3", "total3"])

    # explicit annotation objects: the module's `from __future__ import
    # annotations` leaves string hints pandas_udf can't resolve
    _stats.__annotations__ = {"texts": pd.Series, "return": pd.DataFrame}
    return pandas_udf(
        _stats, "struct<maxrun2:int,total2:int,dup3:int,total3:int>")(text)


def repetition_metrics(text: Column) -> Column:
    """Both Gopher fractions + the combined gate from ONE stats pass:
    struct ``(top2gram_frac, dup3gram_frac, rep_ok)``."""
    return _repetition_fracs(repetition_stats(text))


def _repetition_fracs(st: Column) -> Column:
    """The fractions and the gate from a ``repetition_stats`` struct,
    computed JVM-side (division + round(…,6) and the thresholds), so
    any source of the same integers yields bit-equal metrics."""
    top2 = F.when(st["total2"] > 0,
                  F.round(st["maxrun2"] / st["total2"], 6)).otherwise(0.0)
    dup3 = F.when(st["total3"] > 0,
                  F.round(st["dup3"] / st["total3"], 6)).otherwise(0.0)
    ok = (top2 <= REPETITION_THRESHOLDS["top2"]) & (
        dup3 <= REPETITION_THRESHOLDS["dup3"])
    return F.struct(top2.alias("top2gram_frac"),
                    dup3.alias("dup3gram_frac"), ok.alias("rep_ok"))


def top_ngram_frac(text: Column, n: int = 2) -> Column:
    """Fraction of word n-gram occurrences taken by the single most
    frequent n-gram — the repetition signal behind the Gopher rule
    "fraction of characters in the most common 2-gram" (Rae et al. 2021,
    arXiv:2112.11446 §A1.1), computed at word-occurrence level so it is
    integer-exact and engine-portable. 0.0 for docs shorter than n."""
    st = _ngram_run_stats(ngrams(text, n))
    return F.when(st["total"] > 0,
                  F.round(st["maxrun"] / st["total"], 6)).otherwise(0.0)


def dup_ngram_frac(text: Column, n: int = 3) -> Column:
    """Fraction of word n-gram occurrences that belong to n-grams
    appearing more than once in the document — the Gopher "fraction of
    characters in duplicate n-grams" family at word-occurrence level.
    High values flag boilerplate/looping text. 0.0 for short docs."""
    st = _ngram_run_stats(ngrams(text, n))
    return F.when(st["total"] > 0,
                  F.round(st["dup"] / st["total"], 6)).otherwise(0.0)


def bigram_lm_score(df, text_col: str, id_col: str, *,
                    alpha: float = 0.1, out_col: str = "lm_nll",
                    model_df=None):
    """CCNet-style language-model quality score (Wenzek et al. 2020,
    arXiv:1911.00359 — perplexity of a corpus LM as the quality signal;
    KenLM there, an add-alpha bigram LM here, same pipeline shape):
    train bigram/unigram counts on the corpus itself, then score every
    document by mean negative log P(w2|w1) over its bigram occurrences —
    low = fluent-for-this-corpus, high = outlier/noise. Emits
    ``out_col`` (rounded 6dp; null for docs with no bigrams).

    P(w2|w1) = (C(w1 w2) + alpha) / (C(w1) + alpha * V), V = distinct
    unigrams — exactly reproducible in any SQL engine, so the oracle can
    run the identical model. ``model_df`` trains the counts on a
    different corpus than the one being scored (default: score the
    training corpus itself); unseen words/bigrams fall back to the
    smoothing mass.

    Plan: two count aggregations over the exploded token/bigram streams
    (hash shuffles with map-side combine), per-doc bigram counts
    pre-aggregated before the model joins (r8: the weighted mean
    sum(n·nll)/sum(n) is the same number with in-doc repetition folded
    out of every join), one join against the bigram count table (Spark
    picks broadcast while the model fits, shuffled-hash beyond), one
    keyed re-aggregate per doc. At 100 TB the model table is the
    interesting knob: cap it upstream (min-count prune) and the join
    side shrinks; scoring stays a join, never a per-row python loop."""
    uni, big, v = _lm_counts(model_df if model_df is not None else df,
                             text_col)
    doc_g = _doc_bigram_counts(df, text_col, id_col)
    scored = (
        doc_g.join(big, "g", "left")
        .withColumn("w1", F.split("g", " ").getItem(0))
        .join(uni.withColumnRenamed("w", "w1"), "w1", "left")
        .withColumn("__one", F.lit(1))
        .join(F.broadcast(v.withColumn("__one", F.lit(1))), "__one")
        .withColumn("__nll", _lm_nll("c2", "c1", "__V", alpha))
        .groupBy("__did").agg(
            F.round(F.sum(F.col("__n") * F.col("__nll")) / F.sum("__n"),
                    6).alias(out_col))
    )
    return df.join(scored, df[id_col] == scored["__did"], "left").drop(
        "__did")


def _lm_counts(mdl, text_col: str, vname: str = "__V"):
    """Add-alpha bigram LM count tables: (unigram counts ``w,c1``,
    bigram counts ``g,c2``, vocabulary size as a ONE-ROW DataFrame
    with column ``vname``). V rides into the scoring plan as a 1-row
    broadcast hash join on a constant key (the _recall_gate idiom) —
    an eager ``uni.count()`` here would run a SEPARATE full
    aggregation pass over the model corpus before the scoring job
    even plans (at 100 TB that is a second pass over the corpus for
    one integer; measured ~1 s of driver-blocking job at gate
    scale). The V aggregate still evaluates the unigram subtree a
    second time inside the job — deliberately NOT papered over with
    .persist(): SQL CacheManager entries live until an explicit
    unpersist or session end, so a library function that persists on
    every model fit leaks one cached table per call in a long-lived
    session; the recompute is a single map-side-combined pass."""
    uni = (mdl.select(F.explode(tokens(F.col(text_col))).alias("w"))
           .groupBy("w").agg(F.count(F.lit(1)).alias("c1")))
    big = (mdl.select(F.explode(ngrams(F.col(text_col), 2)).alias("g"))
           .groupBy("g").agg(F.count(F.lit(1)).alias("c2")))
    return uni, big, uni.agg(F.count(F.lit(1)).alias(vname))


def _doc_bigram_counts(df, text_col: str, id_col: str):
    """Per-doc bigram OCCURRENCE counts ``(__did, g, __n)`` — the
    pre-aggregation (map-side combined) shrinks the model-join input by
    the in-doc repetition factor, and the per-doc mean becomes the
    weighted mean sum(__n·nll)/sum(__n) — identical math, fewer rows
    through every downstream join."""
    return (df.select(F.col(id_col).alias("__did"),
                      F.explode(ngrams(F.col(text_col), 2)).alias("g"))
            .groupBy("__did", "g").agg(F.count(F.lit(1)).alias("__n")))


def _lm_nll(c2: str, c1: str, v: str, alpha: float):
    """-log P(w2|w1) with add-alpha smoothing over count columns; ``v``
    names the vocabulary-size column (see _lm_counts). alpha*V is a
    runtime double product of the same two binary64 values the old
    python-literal spelling folded at plan time — bit-identical."""
    return -F.log((F.coalesce(F.col(c2), F.lit(0)) + F.lit(alpha))
                  / (F.coalesce(F.col(c1), F.lit(0))
                     + F.lit(alpha) * F.col(v)))


def filter_by_lm_quantile(df, text_col: str, id_col: str, *, q: float,
                          by: str | None = None, alpha: float = 0.1,
                          keep_score: bool = False,
                          global_ok: bool = False):
    """CCNet perplexity floor: keep documents at/below the ``q``
    cume_dist of corpus-bigram-LM negative log likelihood (low = fluent
    for this corpus), optionally within each ``by`` group (per-language
    buckets, as CCNet does). Docs with no bigrams (null score) pass
    unconditionally. The single shared implementation behind curate()'s
    lm_floor stage and the gate's quality_filter leg — the oracle
    replays the same model, so tie/null semantics must not drift.
    ``by=None`` is a single-partition global sort and raises unless
    ``global_ok=True`` (r8 guard)."""
    from pyspark.sql import Window

    _guard_global_window(by, global_ok, "filter_by_lm_quantile")
    # the scored subtree feeds TWO plan sites (the cume_dist branch and
    # the null-score union) — without a lazy localCheckpoint the whole
    # LM pipeline (two model aggregations + three joins) executes once
    # per branch (the _recall_gate/jaccard-docs device)
    scored = bigram_lm_score(df, text_col, id_col,
                             alpha=alpha).localCheckpoint(eager=False)
    w = Window.partitionBy(*([by] if by else [])).orderBy("lm_nll")
    with_cd = (scored.filter(F.col("lm_nll").isNotNull())
               .withColumn("__cd", F.cume_dist().over(w)))
    out = (with_cd.filter(F.col("__cd") <= q).drop("__cd")
           .unionByName(scored.filter(F.col("lm_nll").isNull())))
    return out if keep_score else out.drop("lm_nll")


# Word-occurrence-level adaptation of the Gopher repetition thresholds
# (char-fraction 0.20 / 0.18 in the paper); documents at or under both
# pass. Exposed so pipelines and the oracle share one set of constants.
REPETITION_THRESHOLDS = {"top2": 0.20, "dup3": 0.18}


def repetition_ok(text: Column) -> Column:
    """Gopher-style repetition gate: most-common-2-gram fraction <= 0.20
    AND duplicate-3-gram fraction <= 0.18 (REPETITION_THRESHOLDS).
    One stats pass via :func:`repetition_metrics` (both fractions from
    a single Arrow batch)."""
    return repetition_metrics(text)["rep_ok"]


# PII patterns shared by engine and oracle: RE2/Java-compatible (no
# lookarounds), applied in this order
PII_PATTERNS = (
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\+?[0-9][0-9()\-\. ]{7,}[0-9]", "<PHONE>"),
    (r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b", "<IP>"),
)


def scrub_pii(text: Column) -> Column:
    """Redact emails / phone-ish numbers / IPv4 addresses with typed
    placeholder tokens — the standard pre-training scrub pass. Pure
    regexp_replace chain: scan-stage, codegen, no shuffle. Patterns are
    deliberately RE2-compatible so the same strings drive the DuckDB
    oracle and any non-JVM consumer."""
    out = text
    for pat, repl in PII_PATTERNS:
        out = F.regexp_replace(out, pat, repl)
    return out
