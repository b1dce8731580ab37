"""Text-analysis operators for large-scale training-data pipelines.

Beyond the reference's own surface (BASELINE.json north star): language ID,
quality scoring, token counting, document fingerprinting — all built from
JVM-side ``pyspark.sql.functions`` so they run inside whole-stage codegen
(no Python in the hot path) and are exactly reproducible by a SQL oracle.

Every function is deterministic and engine-portable: regex/byte semantics
chosen so DuckDB produces identical values.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from ..session import local_df

# Minimal per-language stopword lists for the n-gram/stopword language-ID
# heuristic.  Deliberately tiny + frozen: the heuristic must be identically
# expressible in the DuckDB oracle.
STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "for", "with", "was"],
    "de": ["der", "die", "das", "und", "ist", "von", "mit", "ein", "nicht", "auf"],
    "fr": ["le", "la", "les", "et", "est", "des", "un", "une", "dans", "que"],
    "es": ["el", "la", "los", "de", "y", "es", "que", "un", "una", "por"],
}


def normalize_ws(text: Column) -> Column:
    """Collapse runs of whitespace and trim — canonical text form."""
    return F.trim(F.regexp_replace(text, r"\s+", " "))


def tokens(text: Column) -> Column:
    """Whitespace tokenization after lowercasing; empty strings removed."""
    return F.filter(
        F.split(F.lower(normalize_ws(text)), " "), lambda t: t != F.lit("")
    )


def token_count(text: Column) -> Column:
    """Whitespace token count (the cheap tokenizer)."""
    return F.size(tokens(text)).cast("long")


def bpe_ish_token_count(text: Column) -> Column:
    """BPE-ish subword proxy: count of word/number/punctuation units via a
    GPT-2-style pre-tokenizer regex (letters runs, digit runs, single
    punctuation).  A cheap, deterministic stand-in for real BPE."""
    units = F.regexp_extract_all(
        F.lower(text), F.lit(r"[a-z]+|[0-9]+|[^a-z0-9\s]"), 0
    )
    return F.size(units).cast("long")


def ngram_features(text: Column) -> Column:
    """Unigram + word-bigram feature list — the fastText / DSIR (Xie et al.
    2023, "Data Selection for Language Models via Importance Resampling")
    feature space.  Bigrams are joined with a single space so the feature
    string is reconstructible by any engine; docs with <2 tokens contribute
    unigrams only.  Pure array ops — stays in whole-stage codegen.

    Callers that explode the result should prefer projecting ``tokens(text)``
    to a column first and passing it to :func:`ngram_features_from_tokens`:
    expressions inlined into a Generate are not common-subexpression
    eliminated, so this composite re-tokenizes the document once per
    sub-expression occurrence (~8×, measured ~2× wall on the DSIR scan)."""
    return ngram_features_from_tokens(tokens(text))


def ngram_features_from_tokens(toks: Column) -> Column:
    """:func:`ngram_features` over an already-tokenized array column — the
    explode-friendly form (tokenize once in a projection below the
    Generate, reference the attribute many times for free)."""
    n = F.size(toks)
    bigrams = F.when(
        n >= 2,
        F.zip_with(
            F.slice(toks, F.lit(1), n - 1),
            F.slice(toks, F.lit(2), n - 1),
            lambda a, b: F.concat(a, F.lit(" "), b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.concat(toks, bigrams)


def stopword_hits(text: Column, lang: str) -> Column:
    """Count of tokens that are stopwords of ``lang`` (with multiplicity)."""
    sw = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    return F.size(F.filter(tokens(text), lambda t: F.array_contains(sw, t)))


def lang_id(text: Column) -> Column:
    """Language-ID heuristic: argmax over per-language stopword hit counts,
    'und' (undetermined) when no stopwords hit.  Ties break by language
    code order (deterministic)."""
    pairs = [(lang, stopword_hits(text, lang)) for lang in sorted(STOPWORDS)]
    best_lang = F.lit("und")
    best_hits = F.lit(0)
    # iterate in reverse-sorted order so earlier codes win exact ties
    for lang, hits in reversed(pairs):
        take = hits >= F.greatest(best_hits, F.lit(1))
        best_lang = F.when(take, F.lit(lang)).otherwise(best_lang)
        best_hits = F.when(take, hits).otherwise(best_hits)
    return best_lang


def quality_score(text: Column) -> Column:
    """Composite quality score in [0,1] from cheap surface statistics:
    alpha-character ratio, punctuation ratio, mean token length band, and
    a length band — the usual pre-training quality-filter features.
    Rounded to 6 dp so engines agree bit-for-bit."""
    n_chars = F.length(text).cast("double")
    alpha = F.length(F.regexp_replace(text, r"[^A-Za-z]", "")).cast("double")
    punct = F.length(F.regexp_replace(text, r"[^.,;:!?]", "")).cast("double")
    ntok = token_count(text).cast("double")
    safe_chars = F.greatest(n_chars, F.lit(1.0))
    alpha_ratio = alpha / safe_chars
    punct_ratio = punct / safe_chars
    mean_tok_len = F.when(ntok > 0, n_chars / ntok).otherwise(F.lit(0.0))
    len_band = (
        F.when((ntok >= 10) & (ntok <= 5000), F.lit(1.0))
        .when(ntok > 0, F.lit(0.5))
        .otherwise(F.lit(0.0))
    )
    tok_band = F.when((mean_tok_len >= 3.0) & (mean_tok_len <= 12.0), F.lit(1.0)).otherwise(
        F.lit(0.5)
    )
    score = (
        alpha_ratio * 0.4 + (1.0 - F.least(punct_ratio * 5.0, F.lit(1.0))) * 0.2
        + len_band * 0.2 + tok_band * 0.2
    )
    return F.round(score, 6)


def fingerprint(text: Column) -> Column:
    """Document fingerprint: md5 of the lowercased, whitespace-collapsed
    text.  Exact-dup detection key (content-defined, layout-insensitive)."""
    return F.md5(F.lower(normalize_ws(text)))


def portable_hash64(col: Column) -> Column:
    """Deterministic 32-bit-range hash portable across engines: first 8 hex
    chars of md5, parsed as an integer.  DuckDB equivalent:
    ``('0x' || substr(md5(x), 1, 8))::BIGINT``.  Used by MinHash/SimHash so
    oracles can reproduce signatures exactly (Spark's ``hash()`` / xxhash64
    seeds differ from DuckDB's ``hash()``).

    ``SPARK_GRAFT_FAST_HASH=1`` swaps in native ``xxhash64`` masked to the
    same non-negative 32-bit range (whole-stage codegen, no md5 digest or
    hex parse) — the production mode for runs that don't need a
    DuckDB-reproducible hash (SCALE.md §4).  The mask keeps every consumer
    contract intact: MinHash permutations ``(a*h + b) % p`` stay inside
    64-bit ANSI arithmetic, and ``% n`` bucketing stays non-negative.
    Hash-derived artifacts (signatures, buckets, samples) differ between
    the two modes by construction; each mode is internally deterministic."""
    if os.environ.get("SPARK_GRAFT_FAST_HASH") == "1":
        return F.xxhash64(col).bitwiseAND(F.lit(0xFFFFFFFF))
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def portable_hash60(col: Column) -> Column:
    """60-bit variant of :func:`portable_hash64`: first 15 hex chars of
    md5.  60 bits (not 64) so the value fits a SIGNED 64-bit integer in
    both engines — 16 hex chars would overflow DuckDB's BIGINT cast for
    digests ≥ 2^63.  DuckDB equivalent:
    ``('0x' || substr(md5(x), 1, 15))::BIGINT``.  Feeds the
    corpus-scaled SimHash banding (dedup.simhash with wide_hash), whose
    band space must grow with log2(corpus) past the 32-bit hash's reach.

    ``SPARK_GRAFT_FAST_HASH=1`` swaps in ``xxhash64`` masked to the same
    non-negative 60-bit range, exactly as the 32-bit variant does."""
    if os.environ.get("SPARK_GRAFT_FAST_HASH") == "1":
        return F.xxhash64(col).bitwiseAND(F.lit(0x0FFFFFFFFFFFFFFF))
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


# PII patterns kept RE2-and-Java compatible (no lookaround/backrefs) so the
# DuckDB oracle runs the byte-identical regex.  \b is supported by both.
PII_EMAIL_RE = r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}"
PII_PHONE_RE = r"\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}"
PII_IPV4_RE = r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}"


def pii_count(text: Column, pattern: str) -> Column:
    """Number of non-overlapping matches of ``pattern`` (a PII regex)."""
    return F.size(F.regexp_extract_all(text, F.lit(pattern), 0)).cast("long")


def redact_pii(text: Column) -> Column:
    """Replace emails → <EMAIL>, then phones → <PHONE>, then IPv4s → <IP>.
    Order matters (emails contain dots that could pair into IP-ish runs);
    the oracle applies the same three passes in the same order."""
    out = F.regexp_replace(text, PII_EMAIL_RE, "<EMAIL>")
    out = F.regexp_replace(out, PII_PHONE_RE, "<PHONE>")
    return F.regexp_replace(out, PII_IPV4_RE, "<IP>")


def lang_id_table(
    df, text_col: str = "text", id_col: str = "doc_id", out_col: str = "lang_pred"
):
    """DataFrame-level language ID — same semantics as :func:`lang_id`
    (stopword hit counts with multiplicity; argmax; ≥1 hit required; ties
    break to the smallest language code; else 'und') but as an explode →
    broadcast-join → count plan that stays in whole-stage codegen.

    Trade-off (measured at sf0.1): the Column variant is a zero-shuffle
    scan and wins here and at scale for short documents; this join variant
    pays one doc-keyed shuffle but touches each token once, so it wins only
    when per-row token re-walks dominate (very long documents or many
    languages).  Both share the same oracle.
    """

    spark = df.sparkSession
    langs = sorted(STOPWORDS)
    sw = local_df(
        spark, [(lang, w) for lang in langs for w in STOPWORDS[lang]], "_lang string, _tk string"
    )
    toks = (
        df.select(
            F.col(id_col).alias("_id"),
            F.explode(F.split(F.lower(normalize_ws(F.col(text_col))), " ")).alias("_tk"),
        )
        .where(F.col("_tk") != "")
    )
    counts = (
        toks.join(F.broadcast(sw), on="_tk")
        .groupBy("_id")
        .pivot("_lang", langs)
        .count()
    )
    hit_cols = [F.coalesce(F.col(lang), F.lit(0)).alias(lang) for lang in langs]
    counts = counts.select("_id", *hit_cols)
    mx = F.greatest(*[F.col(lang) for lang in langs])
    pred = F.lit("und")
    for lang in reversed(langs):  # earlier codes win exact ties
        pred = F.when((mx > 0) & (F.col(lang) == mx), F.lit(lang)).otherwise(pred)
    counts = counts.select("_id", pred.alias(out_col))
    return df.join(
        counts, on=df[id_col] == counts["_id"], how="left"
    ).drop("_id").fillna({out_col: "und"})


def doc_frequency_topk(
    df: DataFrame,
    text_col: str = "text",
    k: int = 100,
) -> DataFrame:
    """Corpus document-frequency head: the top-``k`` tokens by the number
    of distinct documents containing them — the vocabulary/stop-list
    builder that also feeds the stop-shingle caps used by the Jaccard
    dedup family (``dedup.shingle_doc_freq_cap``).

    Per doc the token list is de-duplicated scan-side
    (``array_distinct``), so each (doc, token) contributes once and the
    aggregate is a plain COUNT — map-combinable, never a COUNT(DISTINCT).

    100 TB story: explode of per-doc distinct tokens (no shuffle), ONE
    hash aggregate on the token key with map-side combine flattening the
    Zipf head before the exchange, then a global top-k that compiles to
    ``TakeOrderedAndProject`` (per-partition heaps of k rows, never a
    global sort).  Ties break lexicographically so the result is total-
    order deterministic.
    """
    tok = (
        df.select(
            F.explode(F.array_distinct(tokens(F.col(text_col)))).alias("token")
        )
    )
    return (
        tok.groupBy("token")
        .agg(F.count(F.lit(1)).alias("doc_freq"))
        .orderBy(F.col("doc_freq").desc(), F.col("token").asc())
        .limit(k)
    )


def source_kl_divergence(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
) -> DataFrame:
    """Distribution drift per corpus slice: KL(P_g ‖ Q) between each
    group's unigram distribution P_g and the whole-corpus distribution Q
    — the monitoring op behind "which source shifted" in a continuously
    ingested training corpus (large KL = the slice reads differently
    from the mix it feeds).

    KL = Σ_t (c_gt/n_g) · ln((c_gt·n) / (c_t·n_g)) over tokens the group
    actually uses (c_gt > 0, and c_t ≥ c_gt keeps the log finite).  Terms
    are computed in double from INTEGER counts (identical in any engine),
    rounded to 12 dp, decimal-summed (order-independent), final round to
    6 dp — the u10/a17 float discipline applied to information theory.

    100 TB story: token occurrences aggregate ONCE into (group, token)
    counts — map-side combine flattens the Zipf head — and everything
    downstream derives from that counts relation: per-group totals (rows
    = #groups), corpus per-token counts (one combinable re-agg), the
    corpus total (1-row broadcast scalar).  The only non-tiny join keys
    the counts back to the vocab-sized per-token relation — equi-join on
    the token, both sides already aggregated.
    """
    tok = (
        df.where(F.col(text_col).isNotNull())
        .select(
            F.col(group_col).alias("grp"),
            F.explode(tokens(F.col(text_col))).alias("token"),
        )
    )
    counts = tok.groupBy("grp", "token").agg(F.count(F.lit(1)).alias("c_gt"))
    n_g = counts.groupBy("grp").agg(F.sum("c_gt").alias("n_g"))
    c_t = counts.groupBy("token").agg(F.sum("c_gt").alias("c_t"))
    n = counts.agg(F.sum("c_gt").alias("n"))
    term = F.round(
        (F.col("c_gt") / F.col("n_g"))
        * F.log(
            (F.col("c_gt") * F.col("n")).cast("double")
            / (F.col("c_t") * F.col("n_g")).cast("double")
        ),
        12,
    ).cast("decimal(28,14)")
    return (
        counts.join(c_t, "token")
        .join(F.broadcast(n_g), "grp")
        .crossJoin(F.broadcast(n))
        .groupBy(F.col("grp").alias(group_col))
        .agg(
            F.round(F.sum(term).cast("double"), 6).alias("kl_divergence"),
            F.max("n_g").alias("n_tokens"),
        )
    )


def pr_curve(
    scored: DataFrame,
    score_col: str = "score",
    label_col: str = "y",
    bucket_decimals: int = 4,
) -> DataFrame:
    """Precision/recall/F1 at EVERY score threshold — the calibration
    curve a pipeline reads before fixing a classifier cutoff (the
    labeled sibling of the unlabeled quality-threshold retention sweep):
    each output row answers "if I keep score ≥ t, what precision and
    recall do I get against the gold labels?".

    Distributed-AUC shape: ONE map-combinable groupBy reduces the corpus
    to ≤ 10^bucket_decimals + 1 threshold-bucket rows (scores floored to
    a fixed grid — integer bucket keys, so cross-engine float rounding
    can never split a bucket); cumulative TP/FP are a window over THAT
    bounded relation, never the corpus, and the positive total is a
    1-row broadcast.  Works at any corpus size because everything after
    the first aggregate is threshold-grid-sized.

    ``label_col`` must be 0/1 int; ``score_col`` a double in [0, 1].
    Returns ``threshold, tp, fp, precision, recall, f1`` (descending
    thresholds; metrics rounded to 6).
    """
    from pyspark.sql import Window

    scale = 10 ** bucket_decimals
    per_t = (
        scored.select(
            F.floor(F.col(score_col) * scale).cast("long").alias("_b"),
            F.col(label_col).cast("long").alias("_y"),
        )
        .groupBy("_b")
        .agg(
            F.sum("_y").alias("_pos"),
            F.sum(F.lit(1) - F.col("_y")).alias("_neg"),
        )
    )
    # checkpoint the bucket table: the total-positives aggregate and the
    # cumulative window both derive from it, and without the cut each
    # branch re-scans the corpus (r12 ADVICE) — the grid is ≤ scale+1
    # rows, so materializing it is free.  eager=False (r13 ADVICE):
    # eager triggered a Spark job at PLAN-CONSTRUCTION time for every
    # library caller; lazy keeps building the DataFrame side-effect-free
    # while the first action still materializes the grid once and both
    # branches share the checkpointed blocks.
    per_t = per_t.localCheckpoint(eager=False)
    w = Window.orderBy(F.col("_b").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    tot = per_t.agg(F.sum("_pos").alias("_tot_pos"))
    return (
        per_t.withColumn("tp", F.sum("_pos").over(w).cast("bigint"))
        .withColumn("fp", F.sum("_neg").over(w).cast("bigint"))
        .crossJoin(F.broadcast(tot))
        .select(
            (F.col("_b").cast("double") / scale).alias("threshold"),
            "tp",
            "fp",
            F.round(F.col("tp") / (F.col("tp") + F.col("fp")), 6).alias(
                "precision"
            ),
            F.when(
                F.col("_tot_pos") > 0,
                F.round(F.col("tp") / F.col("_tot_pos"), 6),
            ).alias("recall"),
            F.round(
                (2 * F.col("tp"))
                / (2 * F.col("tp") + F.col("fp") + (F.col("_tot_pos") - F.col("tp"))),
                6,
            ).alias("f1"),
        )
    )


def heavy_hitters_mg(
    df: DataFrame,
    text_col: str = "text",
    k: int = 50,
    candidates: bool = False,
) -> DataFrame:
    """Misra–Gries heavy hitters over the token stream — the mergeable-
    summary sketch (Agarwal et al. 2012) beside the built-in HLL (a19)
    and GK (a22): every token occurring more than N/(k+1) times is
    GUARANTEED present, with its count underestimated by at most
    N/(k+1).  The frequent-token monitor that needs no full vocabulary
    aggregation — summaries are k-row, whatever the corpus size.

    Per partition an Arrow ``mapInPandas`` kernel folds each batch's
    exact value_counts into a k-capacity counter set using the COMBINE
    rule (add, then subtract the (k+1)-st largest and drop non-positive)
    — O(unique) per batch, vectorized by pandas, never the O(k)
    decrement-per-arrival loop.  Partition summaries (≤ k rows each)
    then merge with ONE tiny map-combinable sum; the error bound
    telescopes: Σ_p N_p/(k+1) = N/(k+1).

    100 TB story: the corpus-sized token stream is consumed ENTIRELY
    scan-side — the only exchange carries ≤ k rows per partition.  This
    is the sketch the exact `doc_frequency_topk` aggregation graduates
    to when the vocabulary itself stops fitting the shuffle.

    Returns (token, est_count) — lower bounds, largest first.
    ``candidates=True`` skips the final top-k cut and returns the FULL
    merged candidate set (≤ k·partitions rows): the completeness
    guarantee ("every token > N/(k+1) survives") holds for this set,
    while the top-k cut can displace a barely-heavy token whose est was
    eroded close to the bound — the invariant-oracle gate (a24) joins
    the candidate set against exact counts, so it needs the uncut set.
    """
    import pandas as pd

    tok = (
        df.where(F.col(text_col).isNotNull())
        .select(F.explode(tokens(F.col(text_col))).alias("token"))
    )

    def mg(batches):
        counters: dict[str, int] = {}
        for pdf in batches:
            vc = pdf["token"].value_counts()
            for t, c in vc.items():
                counters[t] = counters.get(t, 0) + int(c)
            if len(counters) > k:
                cut = sorted(counters.values(), reverse=True)[k]
                counters = {
                    t: c - cut for t, c in counters.items() if c - cut > 0
                }
        yield pd.DataFrame(
            {"token": list(counters), "est_count": list(counters.values())}
        )

    summaries = tok.mapInPandas(mg, "token string, est_count long")
    merged = summaries.groupBy("token").agg(F.sum("est_count").alias("est_count"))
    if candidates:
        return merged
    return merged.orderBy(F.col("est_count").desc(), F.col("token").asc()).limit(k)


def _doc_tokens(docs: DataFrame) -> DataFrame:
    """(doc_id, toks) for every non-NULL text — the one tokenize scan of
    the bigram LMs."""
    return docs.where(F.col("text").isNotNull()).select(
        "doc_id", tokens(F.col("text")).alias("toks")
    )


def _bigram_rows(tok: DataFrame) -> DataFrame:
    """(doc_id, a, b): one row per adjacent token pair of each document."""
    return tok.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(slice(toks, 1, greatest(size(toks) - 1, 0)),"
                " (x, i) -> struct(x AS a, toks[i + 1] AS b))"
            )
        ).alias("p"),
    ).select("doc_id", F.col("p.a").alias("a"), F.col("p.b").alias("b"))


def _mean_nll(scored: DataFrame, p) -> DataFrame:
    """The bigram LMs' per-doc fold over ``scored`` (one row per doc
    bigram type with its ``tf``): each transition's -log2(p) is rounded
    to 9 dp and decimal-cast BEFORE the tf-weighted sum, then the sum is
    divided by the doc's bigram count and rounded to 6 dp.  Returns
    (doc_id, n_bigrams, mean_nll)."""
    nll = F.round(-F.log2(p), 9).cast("decimal(28,9)")
    return (
        scored.groupBy("doc_id")
        .agg(
            F.sum("tf").alias("n_bigrams"),
            F.sum(F.col("tf").cast("decimal(8,0)") * nll).alias("_nll_sum"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            F.round(
                F.col("_nll_sum").cast("double") / F.col("n_bigrams"), 6
            ).alias("mean_nll"),
        )
    )


def bigram_lm_scores(docs: DataFrame, lam: float = 0.75) -> DataFrame:
    """Interpolated-backoff bigram LM perplexity scoring (VERDICT r8
    item 5) — the CCNet-style quality filter upgraded from the unigram
    proxy: train on the corpus itself, score each document's mean
    negative log2 interpolated probability over its bigram transitions

        p(b | a) = lam * count(a,b)/count(a,*) + (1-lam) * count(b)/N

    (Jelinek-Mercer interpolation; lam = 0.75 = 3/4 is exactly
    representable so both engines compute the identical IEEE double).
    Shuffled-token junk keeps its unigram distribution but destroys its
    transition structure, so this separates what ``tx_unigram_lm``
    cannot — pinned by tests/test_bigram_lm.py.

    Float discipline (the tx_unigram_lm contract): each transition's
    -log2(p) is rounded to 9 dp and cast to decimal BEFORE the per-doc
    sum — order-independent, oracle-replayable bit-for-bit.

    Plan: ONE tokenize scan (lazy-checkpointed) feeds the unigram,
    bigram, and context counts (all map-combinable partial aggregates);
    the per-doc bigram tf joins the three count relations on their keys
    (fact-sized sides — SMJ is the legitimate at-scale plan) and the
    1-row corpus total rides as a broadcast scalar.  Docs with fewer
    than two tokens have no transitions and drop out, by contract.

    Returns (doc_id, n_bigrams, mean_nll).
    """
    tok = _doc_tokens(docs).localCheckpoint(eager=False)
    uni = tok.select(F.explode("toks").alias("t"))
    cf = uni.groupBy("t").agg(F.count(F.lit(1)).alias("c"))
    tot = uni.agg(F.count(F.lit(1)).alias("total"))
    bg = _bigram_rows(tok)
    btf = bg.groupBy("doc_id", "a", "b").agg(F.count(F.lit(1)).alias("tf"))
    bc = bg.groupBy("a", "b").agg(F.count(F.lit(1)).alias("cab"))
    cc = bg.groupBy("a").agg(F.count(F.lit(1)).alias("ca"))
    p = F.lit(lam) * (F.col("cab").cast("double") / F.col("ca")) + F.lit(
        1.0 - lam
    ) * (F.col("c").cast("double") / F.col("total"))
    return _mean_nll(
        btf.join(bc, ["a", "b"])
        .join(cc, ["a"])
        .join(cf.select(F.col("t").alias("b"), "c"), ["b"])
        .crossJoin(F.broadcast(tot)),
        p,
    )


def kn_lm_scores(docs: DataFrame, discount: float = 0.75) -> DataFrame:
    """Interpolated Kneser-Ney bigram LM scoring (VERDICT r9 item 6) —
    the absolute-discount upgrade of :func:`bigram_lm_scores`'s
    Jelinek-Mercer arm.  JM backs off to the raw UNIGRAM distribution,
    which overweights tokens that are frequent but context-bound (the
    classic "francisco" problem: frequent, yet it only ever follows
    "san", so a junk transition onto it should stay improbable).  KN
    backs off to the CONTINUATION distribution instead:

        p_KN(b|a) = (c(a,b) - D) / c(a)
                    + (D / c(a)) * N1+(a,*) * N1+(*,b) / N1+(*,*)

    with D = 0.75 (Chen & Goodman's fixed discount; exactly
    representable, so both engines compute the identical IEEE double).
    N1+(a,*) = distinct continuations of a, N1+(*,b) = distinct contexts
    of b, N1+(*,*) = distinct bigram types.  Scoring the training corpus
    itself means every scored transition has c(a,b) ≥ 1 > D, so the
    discounted term never clips to zero and log2 is always finite.

    Float discipline (the bigram-LM contract): each transition's
    -log2(p) is rounded to 9 dp and decimal-cast BEFORE the per-doc sum —
    order-independent, oracle-replayable bit-for-bit.

    Plan: ONE tokenize scan → per-doc bigram tf (btf); EVERY count
    relation cascades from btf/bc by map-combinable re-aggregation
    (cab = Σtf, then c(a)/N1+(a,*) in one groupBy(a), N1+(*,b) in one
    groupBy(b), N1+(*,*) as a 1-row broadcast scalar) — strictly
    shrinking shuffles, no second corpus scan.  The scoring joins are
    fact-to-fact on their keys (SMJ is the legitimate at-scale plan).

    Returns (doc_id, n_bigrams, mean_nll).
    """
    bg = _bigram_rows(_doc_tokens(docs))
    btf = bg.groupBy("doc_id", "a", "b").agg(F.count(F.lit(1)).alias("tf"))
    btf = btf.localCheckpoint(eager=False)  # btf feeds every count relation
    bc = btf.groupBy("a", "b").agg(F.sum("tf").alias("cab"))
    ctx = bc.groupBy("a").agg(
        F.sum("cab").alias("ca"), F.count(F.lit(1)).alias("n1a")
    )
    nb = bc.groupBy("b").agg(F.count(F.lit(1)).alias("n1b"))
    nt = bc.agg(F.count(F.lit(1)).alias("ntypes"))
    d = float(discount)
    p = (F.col("cab").cast("double") - F.lit(d)) / F.col("ca") + (
        F.lit(d) / F.col("ca")
    ) * F.col("n1a") * (F.col("n1b").cast("double") / F.col("ntypes"))
    return _mean_nll(
        btf.join(bc, ["a", "b"])
        .join(ctx, ["a"])
        .join(nb, ["b"])
        .crossJoin(F.broadcast(nt)),
        p,
    )


def kn_mod_lm_scores(docs: DataFrame) -> DataFrame:
    """MODIFIED Kneser-Ney bigram LM scoring (Chen & Goodman 1999, the
    production variant of :func:`kn_lm_scores`): instead of one fixed
    discount, three discounts D1/D2/D3+ are ESTIMATED from the corpus's
    count-of-counts and applied by the bigram's own count —

        Y  = n1 / (n1 + 2·n2)
        Dk = k − (k+1)·Y·n_{k+1}/n_k          (0 when n_k = 0 — then no
                                               bigram has count k anyway)
        λ(a) = (D1·N1(a) + D2·N2(a) + D3·N3+(a)) / c(a)
        p(b|a) = (c(a,b) − D(c(a,b))) / c(a) + λ(a) · N1+(·,b)/N1+(·,·)

    where n_k = #bigram types with count k, Nk(a) = #continuations of a
    with count k (N3+ = count ≥ 3).  Each Dk is explicitly CLAMPED to
    [0, k] (r10 ADVICE): the raw Chen-Goodman estimate goes out of range
    on skewed count-of-counts (e.g. n3 >> n2 or n4 = 0 with large n3),
    which would make p ≤ 0 and log2 NULL.  With the clamp the first term
    is never negative, λ(a) ≥ 0, and p > 0 whenever a has any
    continuation, so log2 stays finite even on an all-singleton or
    inverted-count-of-counts corpus (both pytest-pinned).

    Float contract: the corpus-level scalars (n1..n4, ntypes) ride as a
    1-row broadcast and Y/D1/D2/D3 are computed INSIDE the expression
    from those integers — both engines derive them with the identical
    double ops — then the usual 9-dp round → decimal tf-weighted sum →
    6-dp mean.  Plan: the kn_lm_scores cascade plus one more
    map-combinable rollup over the bigram relation (count-of-counts)
    and two extra small columns on the context relation.

    Returns (doc_id, n_bigrams, mean_nll).
    """
    bg = _bigram_rows(_doc_tokens(docs))
    btf = bg.groupBy("doc_id", "a", "b").agg(F.count(F.lit(1)).alias("tf"))
    btf = btf.localCheckpoint(eager=False)
    bc = btf.groupBy("a", "b").agg(F.sum("tf").alias("cab"))
    ctx = bc.groupBy("a").agg(
        F.sum("cab").alias("ca"),
        F.sum((F.col("cab") == 1).cast("long")).alias("ka1"),
        F.sum((F.col("cab") == 2).cast("long")).alias("ka2"),
        F.sum((F.col("cab") >= 3).cast("long")).alias("ka3"),
    )
    nb = bc.groupBy("b").agg(F.count(F.lit(1)).alias("n1b"))
    coc = bc.agg(
        F.count(F.lit(1)).alias("ntypes"),
        F.sum((F.col("cab") == 1).cast("long")).alias("n1"),
        F.sum((F.col("cab") == 2).cast("long")).alias("n2"),
        F.sum((F.col("cab") == 3).cast("long")).alias("n3"),
        F.sum((F.col("cab") == 4).cast("long")).alias("n4"),
    )
    scored = (
        btf.join(bc, ["a", "b"])
        .join(ctx, ["a"])
        .join(nb, ["b"])
        .crossJoin(F.broadcast(coc))
    )
    # Shared-association expressions: the SAME strings feed the oracle
    # (dialect-neutral CASE/CAST/arithmetic), so the two arms cannot
    # drift — the html.py shared-constant discipline.
    return _mean_nll(scored, F.expr(kn_mod_p_sql()))


def kn_mod_p_sql() -> str:
    """The modified-KN probability as ONE dialect-neutral SQL expression
    (CASE/CAST/arithmetic only) over columns
    (cab, ca, ka1, ka2, ka3, n1b, n1, n2, n3, n4, ntypes) — rendered
    identically by Spark's parser and DuckDB, so the two arms share the
    exact double-op association order by construction."""
    y = ("(CASE WHEN n1 + 2 * n2 > 0 THEN CAST(n1 AS DOUBLE) / (n1 + 2 * n2)"
         " ELSE CAST(0.0 AS DOUBLE) END)")
    # Each Dk is CLAMPED to [0, k] (r10 ADVICE): on skewed count-of-counts
    # (n_{k+1} >> n_k) the raw Chen-Goodman estimate goes negative (or
    # exceeds k), which would make the discounted term or lambda(a)
    # negative and p <= 0 -> log2 NULL, silently dropped from the sum.
    # GREATEST/LEAST render identically in Spark and DuckDB, so both arms
    # stay bit-identical.
    d = {
        1: f"GREATEST(CAST(0.0 AS DOUBLE), LEAST(CAST(1.0 AS DOUBLE),"
           f" (CASE WHEN n1 > 0 THEN 1.0 - 2.0 * {y} * (CAST(n2 AS DOUBLE) / n1)"
           " ELSE CAST(0.0 AS DOUBLE) END)))",
        2: f"GREATEST(CAST(0.0 AS DOUBLE), LEAST(CAST(2.0 AS DOUBLE),"
           f" (CASE WHEN n2 > 0 THEN 2.0 - 3.0 * {y} * (CAST(n3 AS DOUBLE) / n2)"
           " ELSE CAST(0.0 AS DOUBLE) END)))",
        3: f"GREATEST(CAST(0.0 AS DOUBLE), LEAST(CAST(3.0 AS DOUBLE),"
           f" (CASE WHEN n3 > 0 THEN 3.0 - 4.0 * {y} * (CAST(n4 AS DOUBLE) / n3)"
           " ELSE CAST(0.0 AS DOUBLE) END)))",
    }
    dsel = (f"(CASE WHEN cab = 1 THEN {d[1]} WHEN cab = 2 THEN {d[2]}"
            f" ELSE {d[3]} END)")
    return (
        f"(CAST(cab AS DOUBLE) - {dsel}) / ca"
        f" + (({d[1]} * ka1 + {d[2]} * ka2 + {d[3]} * ka3) / ca)"
        f" * (CAST(n1b AS DOUBLE) / ntypes)"
    )


def bpe_merges(docs: DataFrame, n_merges: int = 10) -> DataFrame:
    """BPE merge-pair vocabulary induction (VERDICT r9 item 4) — the
    actual tokenizer-prep op a training pipeline runs (Sennrich et al.
    2016, public method): starting from characters, repeatedly merge the
    corpus's most frequent adjacent symbol pair, emitting the learned
    merge table ``(rank, lhs, rhs, pair_count)``.

    Representation: each word type is ONE bracketed string
    (``lower`` → ``<l><o><w><e><r>``).  Merging pair (a,b) is then a
    plain ``replace(enc, '<a><b>', '<ab>')`` — and because ``replace``
    in both engines substitutes non-overlapping occurrences left to
    right, this IS greedy BPE merge semantics, including the
    ``<a><a><a>`` → ``<aa><a>`` run case.  Words are letters-only
    (``[a-z]+``), so ``<``/``>`` can never collide with symbol text.
    Ties on pair count break lexicographically on (lhs, rhs) — ASCII
    order, identical in both engines.

    100 TB story: ONE corpus-wide map-combinable groupBy reduces the
    corpus to the word-TYPE table (vocabulary-sized — the standard BPE
    trick; every later step is corpus-size-independent).  Each of the N
    iterations is one vocab-sized pair explode + map-combinable count
    and one driver collect of exactly ONE row (the argmax pair), then a
    row-local replace; lineage is cut per step (the g1_pagerank loop
    contract).  Iterations are inherently serial; work per iteration is
    linear in vocabulary size.  The oracle unrolls the same N steps as
    chained CTEs, bit-identical.
    """
    merges, _cur = _bpe_learn(docs, n_merges)
    return local_df(
        docs.sparkSession, merges, "rank int, lhs string, rhs string, pair_count long"
    )


def _bpe_learn(docs: DataFrame, n_merges: int):
    """The shared learn loop: returns (merge list, final encoded
    word-type table) — bpe_merges reports the table, bpe_encode_stats
    aggregates the final state."""
    wf = (
        docs.where(F.col("text").isNotNull())
        .select(
            F.explode(
                F.expr(r"regexp_extract_all(lower(text), '[a-z]+', 0)")
            ).alias("word")
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    cur = wf.select(
        F.regexp_replace("word", "(.)", "<$1>").alias("enc"), "freq"
    ).localCheckpoint(eager=True)

    merges: list[tuple[int, str, str, int]] = []
    for i in range(1, n_merges + 1):
        syms = F.split(F.expr("substring(enc, 2, length(enc) - 2)"), "><")
        staged = cur.select(syms.alias("s"), "freq")
        pairs = (
            staged.select(
                F.explode(
                    F.expr(
                        "transform(slice(s, 1, greatest(size(s) - 1, 0)),"
                        " (x, i) -> struct(x AS a, s[i + 1] AS b))"
                    )
                ).alias("p"),
                "freq",
            )
            .groupBy("p.a", "p.b")
            .agg(F.sum("freq").alias("cnt"))
        )
        best = pairs.orderBy(
            F.col("cnt").desc(), F.col("a").asc(), F.col("b").asc()
        ).limit(1).collect()
        if not best:
            break
        a, b, cnt = best[0]["a"], best[0]["b"], int(best[0]["cnt"])
        merges.append((i, a, b, cnt))
        cur = cur.select(
            F.expr(f"replace(enc, '<{a}><{b}>', '<{a}{b}>')").alias("enc"),
            "freq",
        ).localCheckpoint(eager=False)
        cur.count()  # materialize + cut lineage, one job per iteration
    return merges, cur


def bpe_encode_stats(docs: DataFrame, n_merges: int = 10) -> DataFrame:
    """Corpus-wide ENCODE under the learned BPE table — the compression
    report that closes the tokenizer loop (learn → encode → measure):
    after applying the ``n_merges`` learned rules, how many pieces does
    each word type split into, and how much corpus volume sits at each
    piece count?  Returns one row per piece count:
    ``(n_pieces, n_word_types, total_freq, total_pieces)`` —
    ``Σ total_pieces / Σ total_freq·len(word)`` is the chars-per-token
    compression a tokenizer evaluation reads off this relation.

    Plan: the learn loop's final state (the encoded word-TYPE table,
    vocabulary-sized) is aggregated once — piece count is
    ``size(split(enc))``, one map-combinable groupBy on ≤ max-word-length
    distinct keys.  No additional corpus scan: encoding word TYPES and
    weighting by ``freq`` is exact because BPE merges are a function of
    the word alone.
    """
    _merges, cur = _bpe_learn(docs, n_merges)
    pieces = F.size(
        F.split(F.expr("substring(enc, 2, length(enc) - 2)"), "><")
    )
    return (
        cur.select(pieces.alias("n_pieces"), "freq")
        .groupBy("n_pieces")
        .agg(
            F.count(F.lit(1)).alias("n_word_types"),
            F.sum("freq").alias("total_freq"),
            F.sum(F.col("freq") * F.col("n_pieces")).cast("bigint").alias(
                "total_pieces"
            ),
        )
    )


def apply_bpe(word: str, merges: list[tuple[str, str]]) -> list[str]:
    """Driver-side reference encoder: apply learned merges to one word in
    rank order (test helper — the distributed encode path would be the
    same replace chain as a column expression)."""
    enc = "".join(f"<{c}>" for c in word)
    for a, b in merges:
        enc = enc.replace(f"<{a}><{b}>", f"<{a}{b}>")
    return enc[1:-1].split("><") if enc else []


def write_text_index(
    docs: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 64,
) -> None:
    """Persisted inverted text index — the ingest-time artifact that makes
    exact phrase/term audits (tx_phrase_hits) index probes instead of
    corpus scans: one (term, doc_id, pos) posting table, PARTITIONED on
    ``bucket = portable_hash64(term) % n_buckets`` so a probe for k terms
    reads ≤ k partition directories (the IVF ``_cid`` partition-prune
    contract applied to text; completes the ingest-artifact triad —
    vectors: write_ivf_index, near-dup labels: the LSH band index, exact
    text: this).

    Build = one tokenize scan + one partitioned write; no shuffle beyond
    the writer's partitioning.  At 100 TB the posting table is the thing
    a deployment additionally sorts within partitions by term (footer
    min/max pruning); the bucket directory prune is the first-order win
    and is plan-tested."""
    _postings(docs, text_col, id_col, n_buckets).write.mode(
        "overwrite"
    ).partitionBy("bucket").parquet(path)


def append_text_index(
    docs: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 64,
) -> None:
    """INCREMENTAL posting append — the ingest arm that keeps the text
    index current without re-indexing the corpus (the add-vs-train
    contract the IVF index and the LSH label index already honor,
    completing the triad's maintenance story): the new batch's postings
    land as additional files inside the same term-bucket partition
    directories (``mode("append")`` + partitionBy writes only the touched
    buckets), so probes see old + new postings through the identical
    partition-pruned scan.  The bucket derivation is shared with
    :func:`write_text_index` — same hash, same ``n_buckets`` — and the
    caller's staleness marker must record both (the _text_index_dir
    contract), because an append under a different derivation would
    scatter postings into unprobed buckets."""
    _postings(docs, text_col, id_col, n_buckets).write.mode(
        "append"
    ).partitionBy("bucket").parquet(path)


def _postings(docs: DataFrame, text_col: str, id_col: str, n_buckets: int) -> DataFrame:
    posting = docs.where(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(tokens(F.col(text_col))).alias("pos", "term"),
    )
    return posting.withColumn(
        "bucket", F.pmod(portable_hash64(F.col("term")), F.lit(n_buckets))
    )


def _term_buckets(spark, terms, n_buckets: int):
    """Driver-side bucket ids for the probe terms.  The md5 path is
    replayed in pure Python (same first-8-hex-chars parse as
    portable_hash64); FAST_HASH mode derives them with one bounded Spark
    job over the |terms|-row relation (xxhash64 has no cheap Python twin)."""
    import hashlib

    if os.environ.get("SPARK_GRAFT_FAST_HASH") == "1":
        rows = (
            local_df(spark, [(t,) for t in terms], "term string")
            .select(F.pmod(portable_hash64(F.col("term")), F.lit(n_buckets)).alias("b"))
            .collect()
        )
        return sorted({r["b"] for r in rows})
    return sorted(
        {int(hashlib.md5(t.encode()).hexdigest()[:8], 16) % n_buckets for t in terms}
    )


def phrase_hits_indexed(
    spark, index_path: str, phrase, n_buckets: int = 64
) -> DataFrame:
    """Exact phrase audit over the PERSISTED index: read only the phrase
    terms' bucket partitions (directory prune) with the term IN filter
    pushed to the scan, then the same (doc, pos±i) adjacency joins as the
    inline arm — probe cost ∝ the phrase's posting lists, near-constant
    in corpus size.  Returns (doc_id, n_hits, first_pos)."""
    phrase = list(phrase)
    buckets = _term_buckets(spark, phrase, n_buckets)
    posting = (
        spark.read.parquet(index_path)
        .where(F.col("bucket").isin(buckets))
        .where(F.col("term").isin(phrase))
        .select("doc_id", "pos", "term")
    )
    hits = posting.where(F.col("term") == phrase[0]).select("doc_id", "pos")
    for i, term in enumerate(phrase[1:], start=1):
        side = posting.where(F.col("term") == term).select(
            "doc_id", (F.col("pos") - i).alias("pos")
        )
        hits = hits.join(side, ["doc_id", "pos"])
    return hits.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_hits"),
        F.min("pos").alias("first_pos"),
    )


# SentencePiece-style unigram-LM tokenizer induction (VERDICT r10 item 6).
# Shared hyperparameters — the oracle generator in queries.py reads these,
# so the two arms can never disagree on a constant.
UNIGRAM_PARAMS = {
    "max_word_len": 12,   # words longer than this are training tail, excluded
    "max_piece_len": 4,   # candidate piece length cap
    "seed_min": 3,        # min corpus count for a multi-char seed piece
    "seed_cap": 200,      # top multi-char seeds kept (by count*len, piece asc)
    "rounds": 3,          # hard-EM rounds
    "top_n": 25,          # reported vocabulary head
}


def unigram_cost0_sql() -> str:
    """Round-0 piece cost from raw seed counts — ONE dialect-neutral
    string rendered by both engines (the kn_mod_p_sql shared-expression
    discipline): -log2(c0/tot0) rounded to 9 dp and held as DECIMAL so
    every later DP sum is exact."""
    return (
        "CAST(ROUND(-log2(CAST(c0 AS DOUBLE) / CAST(tot0 AS DOUBLE)), 9)"
        " AS DECIMAL(28,9))"
    )


def unigram_cost_sql() -> str:
    """EM-round piece cost with add-0.5 smoothing over the FIXED piece set
    (all pieces stay alive with finite cost — hard-EM zero counts would
    otherwise strand coverage)."""
    return (
        "CAST(ROUND(-log2((CAST(n AS DOUBLE) + 0.5) /"
        " (CAST(totn AS DOUBLE) + 0.5 * CAST(np AS DOUBLE))), 9)"
        " AS DECIMAL(28,9))"
    )


def unigram_prob_sql() -> str:
    return (
        "ROUND((CAST(n AS DOUBLE) + 0.5) /"
        " (CAST(totn AS DOUBLE) + 0.5 * CAST(np AS DOUBLE)), 9)"
    )


def _unigram_word_types(docs: DataFrame, params: dict | None = None) -> DataFrame:
    p = {**UNIGRAM_PARAMS, **(params or {})}
    return (
        docs.where(F.col("text").isNotNull())
        .select(
            F.explode(
                F.expr(r"regexp_extract_all(lower(text), '[a-z]+', 0)")
            ).alias("word")
        )
        .where(F.length("word").between(1, p["max_word_len"]))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def _unigram_cand_expr(params: dict | None = None) -> str:
    """Every (end, len) substring candidate of a word as one array expr:
    flatten(transform(ends, e -> transform(1..min(P,e), l -> struct)))."""
    p = {**UNIGRAM_PARAMS, **(params or {})}["max_piece_len"]
    return (
        "flatten(transform(sequence(1, length(word)), e ->"
        f" transform(sequence(1, least({p}, e)), l ->"
        " struct(e AS ei, l AS l, substring(word, e - l + 1, l) AS piece))))"
    )


def _unigram_seed_pieces(wt: DataFrame, params: dict | None = None) -> DataFrame:
    """Seed piece set: every single char observed (coverage guarantee —
    the Viterbi DP always has the all-singles path) plus the top
    ``seed_cap`` multi-char substrings scored by count × length (the
    SentencePiece seed heuristic: frequency alone favors short pieces),
    count >= seed_min, ties on piece ascending."""
    p = {**UNIGRAM_PARAMS, **(params or {})}
    subs = wt.select(
        "freq", F.explode(F.expr(_unigram_cand_expr(p))).alias("c")
    ).select(F.col("c.piece").alias("piece"), "freq")
    c0 = subs.groupBy("piece").agg(F.sum("freq").alias("c0"))
    chars = c0.where(F.length("piece") == 1)
    multi = (
        c0.where((F.length("piece") >= 2) & (F.col("c0") >= p["seed_min"]))
        .orderBy(
            (F.col("c0") * F.length("piece")).desc(), F.col("piece").asc()
        )
        .limit(p["seed_cap"])
    )
    return chars.unionByName(multi)


def _viterbi_ps(wt: DataFrame, pieces: DataFrame, params: dict | None = None) -> DataFrame:
    """Hard-EM E-step: each word type's single BEST segmentation under
    the current piece costs, as (word, freq, ps: array<string>) rows.

    The whole DP is per-row ARRAY arithmetic — zero joins beyond one
    broadcast of the (vocab-sized) piece-cost table: candidates =
    substring grid joined to costs, folded left-to-right with
    ``aggregate`` building the DP state array (best cost + winning piece
    length per position), then a second fold backtracks the winner.
    Costs are 9-dp DECIMALs, so sums are exact and the tie-break
    (min cost, then LONGEST piece — (ei,l) is unique per candidate, so
    this is a total order and fold order cannot matter) is replayed
    bit-for-bit by the oracle's unrolled position-by-position CTEs.

    100 TB story: everything here is vocabulary-sized — the corpus was
    reduced to word TYPES by one scan (the BPE trick); the DP is
    JVM-side expression work linear in |vocab| × max_word_len with no
    shuffle at all (the piece table broadcasts)."""
    cands = (
        wt.select(
            "word", "freq",
            F.explode(F.expr(_unigram_cand_expr(params))).alias("c"),
        )
        .select("word", "freq", "c.ei", "c.l", F.col("c.piece").alias("piece"))
        .join(F.broadcast(pieces.select("piece", "cost")), "piece")
    )
    per_word = cands.groupBy("word", "freq").agg(
        F.collect_list(F.struct("ei", "l", "cost")).alias("cl")
    )
    # every stored DP value is re-cast to DECIMAL(28,9) after the add —
    # Spark's (38,9)+(38,9) silently loses a scale digit, and (28,9)+(28,9)
    # yields (29,9) which the cast brings back losslessly (values < 10^19;
    # the oracle applies the identical per-step cast)
    states = (
        "aggregate(sequence(1, length(word)),"
        " array(named_struct('best', CAST(0 AS DECIMAL(28,9)), 'bl', 0)),"
        " (acc, i) -> concat(acc, array("
        "   aggregate(filter(cl, c -> c.ei = i),"
        "     named_struct('best', CAST(NULL AS DECIMAL(28,9)), 'bl', 0),"
        "     (w, c) -> CASE WHEN w.best IS NULL"
        "       OR element_at(acc, i - c.l + 1).best + c.cost < w.best"
        "       OR (element_at(acc, i - c.l + 1).best + c.cost = w.best"
        "           AND c.l > w.bl)"
        "     THEN named_struct("
        "       'best', CAST(element_at(acc, i - c.l + 1).best + c.cost"
        "                    AS DECIMAL(28,9)),"
        "       'bl', c.l)"
        "     ELSE w END))))"
    )
    backtrack = (
        "aggregate(sequence(1, length(word)),"
        " named_struct('pos', length(word),"
        "   'ps', CAST(array() AS ARRAY<STRING>)),"
        " (s, x) -> CASE WHEN s.pos <= 0 THEN s ELSE named_struct("
        "   'pos', s.pos - element_at(st, s.pos + 1).bl,"
        "   'ps', concat(s.ps, array(substring(word,"
        "     s.pos - element_at(st, s.pos + 1).bl + 1,"
        "     element_at(st, s.pos + 1).bl)))) END,"
        " s -> s.ps)"
    )
    return (
        per_word.withColumn("st", F.expr(states))
        .withColumn("ps", F.expr(backtrack))
        .select("word", "freq", "ps")
    )


def _viterbi_segments(
    wt: DataFrame, pieces: DataFrame, params: dict | None = None
) -> DataFrame:
    """Exploded (piece, freq) rows of each word type's best segmentation
    (see :func:`_viterbi_ps` for the DP itself)."""
    return _viterbi_ps(wt, pieces, params).select(
        "freq", F.explode("ps").alias("piece")
    )


def _unigram_learn(docs: DataFrame, params: dict | None = None):
    """The shared learn loop: returns the final per-piece stats relation
    (piece, n, totn, np, cost) after ``rounds`` hard-EM rounds.  Each
    round = one E-step (``_viterbi_segments``) + one vocab-sized
    map-combinable count + one 1-row broadcast of the totals; lineage is
    cut per round (the g1_pagerank / tx_bpe_merges loop contract)."""
    p = {**UNIGRAM_PARAMS, **(params or {})}
    wt = _unigram_word_types(docs, p).localCheckpoint(eager=True)
    pset = _unigram_seed_pieces(wt, p)
    tot0 = pset.agg(F.sum("c0").alias("tot0"))
    pieces = (
        pset.crossJoin(F.broadcast(tot0))
        .select("piece", F.expr(unigram_cost0_sql()).alias("cost"))
        .localCheckpoint(eager=True)
    )
    stats = None
    for _r in range(1, p["rounds"] + 1):
        seg = _viterbi_segments(wt, pieces, p)
        counts = seg.groupBy("piece").agg(F.sum("freq").alias("n"))
        base = (
            pieces.select("piece")
            .join(counts, "piece", "left")
            .na.fill({"n": 0})
        )
        tot = base.agg(F.sum("n").alias("totn"), F.count(F.lit(1)).alias("np"))
        stats = base.crossJoin(F.broadcast(tot))
        pieces = stats.select(
            "piece", F.expr(unigram_cost_sql()).alias("cost")
        ).localCheckpoint(eager=True)
    return wt, pieces, stats


def unigram_token_stats(docs: DataFrame, params: dict | None = None) -> DataFrame:
    """The registry op: the learned unigram vocabulary head —
    ``(rank, piece, n, p)`` for the ``top_n`` pieces by final hard-EM
    count (ties on piece ascending).  ``n`` is the piece's count over
    the corpus's best segmentations, ``p`` its smoothed probability.

    Oracle: queries.py unrolls the identical computation — seed scoring,
    3 EM rounds of position-by-position Viterbi DP and backtracking —
    as chained DuckDB CTEs over the same shared cost expressions; exact
    decimal DP sums and total-order tie-breaks make the two arms agree
    bit-for-bit (the u13_coreset / tx_bpe_merges iterative-oracle
    pattern)."""
    from pyspark.sql import Window

    p = {**UNIGRAM_PARAMS, **(params or {})}
    _wt, _pieces, stats = _unigram_learn(docs, p)
    final = stats.select(
        "piece",
        F.col("n").cast("bigint").alias("n"),
        F.expr(unigram_prob_sql()).alias("p"),
    )
    w = Window.orderBy(F.col("n").desc(), F.col("piece").asc())
    return (
        final.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= p["top_n"])
        .select("rank", "piece", "n", "p")
    )


def unigram_encode_report(docs: DataFrame, params: dict | None = None) -> DataFrame:
    """Pieces-per-word report under the learned unigram vocabulary (the
    bpe_encode_stats sibling, same output shape): one row per piece
    count with word-type/frequency/piece totals — the pytest compares
    Σ total_pieces / Σ total_freq against BPE at equal vocab."""
    wt, pieces, _stats = _unigram_learn(docs, params)
    sizes = _viterbi_ps(wt, pieces, params).select(
        "freq", F.size("ps").alias("n_pieces")
    )
    return sizes.groupBy("n_pieces").agg(
        F.count(F.lit(1)).alias("n_word_types"),
        F.sum("freq").alias("total_freq"),
        F.sum(F.col("freq") * F.col("n_pieces")).cast("bigint").alias(
            "total_pieces"
        ),
    )


GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_rules(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style document quality rules (Rae et al. 2021, "Scaling
    Language Models: Methods, Analysis & Insights from Training Gopher",
    arXiv 2112.11446, Appendix A1.1) — the published rule set most
    pretraining pipelines start from, as one scan-side verdict per doc:

    * word count in [50, 100 000];
    * mean word length in [3, 10] chars;
    * symbol-to-word ratio ('#' and ellipsis) ≤ 0.1;
    * ≤ 90 % of lines start with a bullet ('-', '*', '•');
    * ≤ 30 % of lines end with an ellipsis;
    * ≥ 80 % of words contain an alphabetic character;
    * ≥ 2 distinct members of the 8-word stop-word probe set.

    Returns per doc the raw counts, one boolean per rule, and the AND'd
    ``keep`` verdict.  EVERY ratio rule is evaluated by integer
    cross-multiplication (``10·symbols ≤ words`` instead of a float
    divide), so the verdicts are exact under any engine's float rules —
    the oracle replays them bit-for-bit.  100 TB story: pure codegen
    string/array algebra in the scan (split, filter, aggregate — no
    UDF, no shuffle, no explode); the output is one row per input row,
    so this composes as a WHERE clause on any downstream pipeline
    exactly like quality_score does in pipe_prepare.

    Repetition rules (Gopher A1.2: duplicate lines/paragraphs, top-gram
    share) live in the dedup/repetition family (`tx_repetition`,
    `dd_span_dedup`) — this is the A1.1 per-document arm.
    """
    words = tokens(F.col(text_col))
    n_words = F.size(words).cast("long")
    sum_len = F.coalesce(
        F.aggregate(
            words, F.lit(0).cast("long"), lambda acc, w: acc + F.length(w)
        ),
        F.lit(0).cast("long"),
    )
    lines = F.filter(
        F.split(F.col(text_col), "\n"), lambda l: F.trim(l) != F.lit("")
    )
    n_lines = F.size(lines).cast("long")
    n_bullet = F.size(
        F.filter(
            lines,
            lambda l: F.trim(l).startswith("-")
            | F.trim(l).startswith("*")
            | F.trim(l).startswith("•"),
        )
    ).cast("long")
    n_ell_lines = F.size(
        F.filter(
            lines,
            lambda l: F.trim(l).endswith("...") | F.trim(l).endswith("…"),
        )
    ).cast("long")
    txt = F.col(text_col)
    n_hash = (F.length(txt) - F.length(F.replace(txt, F.lit("#"), F.lit("")))).cast(
        "long"
    )
    n_ell = (
        (F.length(txt) - F.length(F.replace(txt, F.lit("..."), F.lit("")))) / 3
    ).cast("long") + (
        F.length(txt) - F.length(F.replace(txt, F.lit("…"), F.lit("")))
    ).cast("long")
    n_alpha = F.size(
        F.filter(words, lambda w: w.rlike("[a-z]"))
    ).cast("long")
    n_stop = F.size(
        F.array_intersect(
            F.array_distinct(words),
            F.array(*[F.lit(s) for s in GOPHER_STOPWORDS]),
        )
    ).cast("long")
    out = df.select(
        F.col(id_col),
        n_words.alias("n_words"),
        n_lines.alias("n_lines"),
        ((n_words >= 50) & (n_words <= 100_000)).alias("word_count_ok"),
        ((sum_len >= 3 * n_words) & (sum_len <= 10 * n_words)).alias(
            "mean_word_len_ok"
        ),
        ((n_hash + n_ell) * 10 <= n_words).alias("symbol_ratio_ok"),
        (n_bullet * 10 <= 9 * n_lines).alias("bullet_ok"),
        (n_ell_lines * 10 <= 3 * n_lines).alias("ellipsis_lines_ok"),
        (n_alpha * 5 >= n_words * 4).alias("alpha_words_ok"),
        (n_stop >= 2).alias("stopwords_ok"),
    )
    keep = (
        F.col("word_count_ok")
        & F.col("mean_word_len_ok")
        & F.col("symbol_ratio_ok")
        & F.col("bullet_ok")
        & F.col("ellipsis_lines_ok")
        & F.col("alpha_words_ok")
        & F.col("stopwords_ok")
    )
    return out.withColumn("keep", keep)


def c4_clean(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """C4-style line-level cleaning (Raffel et al. 2020, "Exploring the
    Limits of Transfer Learning with a Unified Text-to-Text Transformer",
    arXiv 1910.10683 §2.2 — the public C4 rules) as a REWRITE: unlike
    :func:`gopher_rules` (verdicts only), this emits the cleaned text.

    Line rules (a line survives iff ALL hold):
    * ends in terminal punctuation (``.``, ``!``, ``?``, ``"``);
    * has ≥ 5 words;
    * does not contain the word "javascript" (case-insensitive).

    Page rules (the ``page_keep`` verdict over the CLEANED text):
    * ≥ 3 sentences — counted as terminal-punctuation characters in the
      kept lines (C4 counts sentences; the terminal-punct count is the
      deterministic engine-exact stand-in, and every kept line
      contributes ≥ 1 by construction);
    * no "lorem ipsum" (case-insensitive) and no ``{`` anywhere in the
      ORIGINAL page (the curly-brace code heuristic).

    Everything is codegen array/string algebra on the scan — one row
    out per row in, no explode, no shuffle, no UDF — and every rule is
    count/containment-based so the DuckDB oracle replays it exactly.
    At 100 TB this is a projection: the cleaned corpus is written by
    the same scan that read the raw one.
    """
    lines = F.filter(
        F.split(F.col(text_col), "\n"), lambda l: F.trim(l) != F.lit("")
    )

    def line_ok(l):
        t = F.trim(l)
        ends = (
            t.endswith(".") | t.endswith("!") | t.endswith("?") | t.endswith('"')
        )
        words = F.size(
            F.filter(F.split(F.lower(t), " "), lambda w: w != F.lit(""))
        )
        return ends & (words >= 5) & ~F.lower(t).contains("javascript")

    kept = F.filter(lines, line_ok)
    cleaned = F.array_join(kept, "\n")
    n_term = (
        F.length(cleaned)
        - F.length(F.translate(cleaned, ".!?", ""))
    ).cast("long")
    low = F.lower(F.col(text_col))
    return df.select(
        F.col(id_col),
        cleaned.alias("cleaned_text"),
        F.size(kept).cast("long").alias("n_lines_kept"),
        (F.size(lines) - F.size(kept)).cast("long").alias("n_lines_dropped"),
        n_term.alias("n_sentences"),
        low.contains("lorem ipsum").alias("has_lorem"),
        F.col(text_col).contains("{").alias("has_brace"),
        (
            (n_term >= 3)
            & ~low.contains("lorem ipsum")
            & ~F.col(text_col).contains("{")
        ).alias("page_keep"),
    )
