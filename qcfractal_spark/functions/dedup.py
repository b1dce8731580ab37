"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

LLM-training-data dedup at 100 TB is join-shaped, not sort-shaped: every
variant here reduces to (1) a per-document signature computed scan-side
(codegen, no Python), then (2) a shuffle on the signature/bucket key whose
cardinality we control.  No O(n²) all-pairs step ever materializes — pair
generation is always bucket-local (same hash / same band / same shingle),
which is what keeps candidate counts linear-ish at scale.

Hash portability: signatures use ``text.portable_hash64`` (md5-derived) so a
DuckDB oracle reproduces them bit-for-bit; Spark's native xxhash64 would be
faster but unverifiable, and at 100 TB the scan is parquet-IO-bound anyway.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .text import fingerprint, normalize_ws, portable_hash64

# Deterministic MinHash parameter tables (seeded LCG-style constants).
# h_i(x) = (A_i * x + B_i) mod P  over the md5-derived base hash.
_P = 4_294_967_311  # smallest prime > 2^32
_NUM_PERM_DEFAULT = 16


def _minhash_params(num_perm: int) -> list[tuple[int, int]]:
    # Deterministic params from a fixed multiplicative generator — no RNG at
    # plan-build time so resubmitted jobs produce identical signatures.
    params = []
    a, b = 1_103_515_245, 12_345
    x = 42
    for _ in range(num_perm):
        x = (a * x + b) % (2**31)
        a_i = 2 * (x % (2**30)) + 1  # odd, < 2^31 so a_i*h(32-bit) fits int64
        x = (a * x + b) % (2**31)
        b_i = x % _P
        params.append((a_i, b_i))
    return params


def shingles(text_col: Column, k: int = 5) -> Column:
    """Character k-gram shingle set over the normalized text (distinct),
    as an array column.  NOTE: array ``transform`` lambdas are interpreted
    per element — for hot paths use :func:`shingle_rows` (codegen explode)
    instead; this array form exists for small/row-local uses."""
    norm = F.lower(normalize_ws(text_col))
    n = F.length(norm)
    idx = F.sequence(F.lit(1), F.greatest(n - F.lit(k - 1), F.lit(1)))
    grams = F.transform(idx, lambda i: norm.substr(i, F.lit(k)))
    return F.array_distinct(grams)


def shingle_rows(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    distinct: bool = True,
) -> DataFrame:
    """(id, shingle) rows via index-explode + substr — stays entirely in
    whole-stage codegen (~9x faster than exploding a transform-built array,
    measured at sf0.1).  ``distinct`` dedupes per document (needed for
    Jaccard set semantics; skippable for MinHash where min() over a
    multiset equals min() over the set)."""
    # shared canonical form (text.normalize_ws) so every shingle producer
    # normalizes identically — an inline copy would silently desynchronize
    # if normalize_ws ever changes (unicode whitespace, etc.)
    norm = normalize_ws(F.lower(F.col(text_col)))
    rows = (
        df.select(F.col(id_col).alias("id"), norm.alias("_t"))
        .select(
            "id",
            F.explode(
                F.sequence(F.lit(1), F.greatest(F.length("_t") - F.lit(k - 1), F.lit(1)))
            ).alias("_i"),
            "_t",
        )
        .select("id", F.col("_t").substr(F.col("_i"), F.lit(k)).alias("shingle"))
    )
    return rows.dropDuplicates(["id", "shingle"]) if distinct else rows


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: canonical fingerprint → keep the lowest id per group.

    groupBy on the fingerprint — at scale this is one shuffle whose key
    cardinality ≈ distinct documents; no window needed (min-by beats
    row_number here: map-side combinable).

    NULL-text docs are excluded: fingerprint(NULL) is NULL, and grouping
    them would report every missing-text doc as a duplicate of the others
    (the oracle mirrors the filter)."""
    return (
        df.where(F.col(text_col).isNotNull())
        .withColumn("_fp", fingerprint(F.col(text_col)))
        .groupBy("_fp")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
        .withColumnRenamed("_fp", "fingerprint")
    )


def _capped_shingles(df, text_col, id_col, k, max_doc_freq):
    """Shared (join-side shingles, per-doc sizes) pair for the Jaccard and
    containment generators: distinct per-doc shingles, with the
    stop-shingle document-frequency cap applied BEFORE the pair join when
    ``max_doc_freq`` is set.  Sizes always count the FULL shingle set so
    capping only ever under-estimates similarity (both callers rely on
    that conservativeness — one definition, no drift).

    The shingle relation feeds up to five consumers (sizes, the df cap,
    the semi-join, and both sides of the pair join); Catalyst does not
    reuse the exchange across them, so without materialization the
    scan+explode+dedup subplan executes once PER consumer (measured 6
    scans, ~10x the steady-state wall time at sf0.1).  A lazy
    localCheckpoint materializes it exactly once; blocks are freed by the
    ContextCleaner when the query's RDDs are released.  At 100 TB this is
    the same call: the shingle set is reused five times, so materializing
    it (disk-backed) beats recomputing the corpus scan five times."""
    sh = shingle_rows(df, text_col, id_col, k, distinct=True).localCheckpoint(
        eager=False
    )
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
    join_sh = sh
    if max_doc_freq is not None:
        rare = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("_df"))
            .where(F.col("_df") <= max_doc_freq)
            .select("shingle")
        )
        join_sh = sh.join(rare, on="shingle", how="left_semi")
    return join_sh, sizes


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    threshold: float = 0.8,
    max_doc_freq: int | None = None,
    min_common: int = 1,
) -> DataFrame:
    """Near-dup pairs by exact character-k-gram Jaccard similarity.

    Plan: explode distinct shingles → self-join on shingle (bucket-local
    pair generation) → count common shingles per pair → Jaccard =
    common / (|A| + |B| - common) → threshold.  The shingle join is the
    scale risk: a stop-shingle appearing in f docs yields f² pairs —
    ``max_doc_freq`` drops shingles with document frequency above the cap
    *before* the join (one extra count-aggregate, cheap next to the f²
    blowup it prevents).  Capping is conservative: |A|,|B| still count the
    FULL shingle sets while ``common`` can only shrink, so similarity is
    only ever *under*-estimated — no pair can cross the threshold because
    of the cap, but pairs whose overlap is mostly stop-shingles may be
    missed.  Default None (exact) for oracle parity at test sf; set at
    100 TB.

    ``min_common`` drops pairs sharing fewer than that many (surviving)
    shingles right after the pair count — with a doc-frequency cap this is
    the rare-shingle candidate-generation mode: a 1-rare-shingle
    coincidence is noise, ≥ min_common rare shingles is signal, and the
    filter sits on the aggregate so the downstream size joins only see
    candidates."""
    join_sh, sizes = _capped_shingles(df, text_col, id_col, k, max_doc_freq)
    a = join_sh.alias("a")
    b = join_sh.alias("b")
    common = (
        a.join(b, on="shingle")
        .where(F.col("a.id") < F.col("b.id"))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    if min_common > 1:
        common = common.where(F.col("common") >= min_common)
    out = (
        common.join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n_sh", "n_a"), "id_a")
        .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("n_sh", "n_b"), "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("common") / (F.col("n_a") + F.col("n_b") - F.col("common")), 6
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return out


def span_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    span_tokens: int = 20,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """One row per non-overlapping ``span_tokens``-token span of each
    document: (id, *extra_cols, span_idx, fingerprint).  The SINGLE
    definition of span identity shared by the batch global-first-occurrence
    stats (:func:`span_dedup_stats`) and the streaming ingest-time dedup
    (``streaming.ingest.stream_span_dedup``) — batch/stream parity requires
    the two arms to fingerprint byte-identically, so neither re-implements
    this."""
    toks = F.split(F.col(text_col), " ")
    n_spans = F.ceil(F.size(toks) / F.lit(float(span_tokens))).cast("int")
    return df.select(
        F.col(id_col), *[F.col(c) for c in extra_cols],
        toks.alias("_toks"), n_spans.alias("_n"),
    ).select(
        id_col,
        *extra_cols,
        F.explode(F.sequence(F.lit(0), F.col("_n") - 1)).alias("span_idx"),
        F.col("_toks"),
    ).select(
        id_col,
        *extra_cols,
        "span_idx",
        F.md5(
            F.concat_ws(
                " ",
                F.slice(
                    F.col("_toks"),
                    F.col("span_idx") * span_tokens + 1,
                    F.lit(span_tokens),
                ),
            )
        ).alias("fingerprint"),
    )


def span_dedup_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    span_tokens: int = 20,
) -> DataFrame:
    """C4-style duplicated-span removal stats (Raffel et al. 2020 §2.2
    dedup "three-sentence spans"; here fixed ``span_tokens``-token spans
    since the corpus has no sentence structure).

    A span is a consecutive non-overlapping ``span_tokens``-token chunk of
    a document.  The global first occurrence of each distinct span text —
    ordered by (doc_id, span position) — is kept; every later occurrence
    (in the same document or any other) is a duplicate.  Returns per-doc
    (doc_id, n_spans, n_dup_spans, dup_frac): the table a pipeline uses to
    drop or trim boilerplate-heavy documents.

    Plan: tokenize scan-side, explode one row per span (array slice, pure
    codegen — the text is never re-scanned per span), then ONE shuffle on
    the span fingerprint for the first-occurrence window and one
    map-combinable groupBy on doc_id.  At 100 TB this is the canonical
    dedup shuffle: key cardinality ≈ distinct spans, heavily combinable,
    and skew is bounded because identical spans hash to one key whose
    group is processed by a window (rank only), never materialized as
    pairs.
    """
    from pyspark.sql import Window

    spans = span_fingerprints(df, text_col, id_col, span_tokens).withColumnRenamed(
        "fingerprint", "_h"
    )
    w = Window.partitionBy("_h").orderBy(F.col(id_col).asc(), F.col("span_idx").asc())
    ranked = spans.withColumn("_rn", F.row_number().over(w))
    return (
        ranked.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(F.when(F.col("_rn") > 1, 1).otherwise(0)).alias("n_dup_spans"),
        )
        .withColumn(
            "dup_frac",
            F.round(F.col("n_dup_spans") / F.col("n_spans"), 6),
        )
    )


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    threshold: float = 0.8,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Directed shingle-containment pairs: ``C(a→b) = |S(a)∩S(b)| / |S(a)|``.

    Containment is the sub-document dup detector: a short document quoted
    verbatim inside a long one scores C≈1 while its Jaccard is tiny (the
    union is dominated by the long doc), so threshold-Jaccard dedup misses
    exactly the quote/boilerplate-inclusion cases containment catches.

    Same bucket-local plan as :func:`ngram_jaccard_pairs` — shingle
    self-join, no all-pairs — but pairs are DIRECTED (a≠b both orders):
    each unordered overlap yields C(a→b) and C(b→a), which differ whenever
    |S(a)|≠|S(b)|.  ``max_doc_freq`` caps stop-shingle f² blowup exactly as
    in the Jaccard op, and is likewise conservative: |S(a)| keeps the full
    set while the intersection can only shrink, so containment is only ever
    under-estimated.
    """
    join_sh, sizes = _capped_shingles(df, text_col, id_col, k, max_doc_freq)
    a = join_sh.alias("a")
    b = join_sh.alias("b")
    common = (
        a.join(b, on="shingle")
        .where(F.col("a.id") != F.col("b.id"))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    return (
        common.join(
            sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n_sh", "n_a"),
            "id_a",
        )
        .withColumn("containment", F.round(F.col("common") / F.col("n_a"), 6))
        .where(F.col("containment") >= threshold)
        .select("id_a", "id_b", "containment")
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    num_perm: int = _NUM_PERM_DEFAULT,
) -> DataFrame:
    """MinHash signature per document: for each permutation i,
    min over shingles of (A_i * h(shingle) + B_i) mod P.

    Plan shape: explode shingles → hash each once → one groupBy(id) with 16
    ``min`` aggregate expressions.  Everything stays in whole-stage codegen
    (array higher-order lambdas are interpreted per element and were ~5x
    slower); the min aggregates combine map-side, so the single shuffle
    carries one row per document — the 100 TB-safe shape."""
    hashed = shingle_rows(df, text_col, id_col, k, distinct=False).select(
        "id", portable_hash64(F.col("shingle")).alias("_h")
    )
    aggs = [
        F.min((F.col("_h") * F.lit(a_i) + F.lit(b_i)) % F.lit(_P)).alias(f"mh_{i}")
        for i, (a_i, b_i) in enumerate(_minhash_params(num_perm))
    ]
    sig = hashed.groupBy("id").agg(*aggs)
    return sig.select(
        "id", F.array(*[F.col(f"mh_{i}") for i in range(num_perm)]).alias("signature")
    )


def rowwise_minhash_signature(
    text_col: Column, k: int = 5, num_perm: int = _NUM_PERM_DEFAULT
) -> Column:
    """Per-ROW MinHash signature as an array column — value-identical to
    :func:`minhash_signatures` (same normalization, portable hash, and
    permutation table; min over the shingle multiset equals min over the
    set), but computed without any aggregation.

    Why it exists: the groupBy form is a *streaming aggregation*, which
    blocks append-mode stream-static probes; this form is a pure
    projection, so a document stream can be banded and joined against a
    persisted LSH index in one append-mode plan.  The array lambdas are
    interpreted per element, so BATCH scans should keep using
    minhash_signatures (codegen explode, ~5x faster) — this is the
    ingest-rate path, bounded by arrival rate, not corpus size.

    NULL text yields a NULL signature (the batch groupBy form emits no row
    for a NULL-text doc); probes must filter NULL signatures out before
    banding — unguarded, the all-NULL signature passed the width check and
    concat_ws collapsed every band key to "", clustering all NULL-text
    docs as near-dups of each other."""
    sh = shingles(text_col, k)
    h = F.transform(sh, lambda s: portable_hash64(s))
    sig = F.array(
        *[
            F.array_min(
                F.transform(h, lambda x: (x * F.lit(a_i) + F.lit(b_i)) % F.lit(_P))
            )
            for a_i, b_i in _minhash_params(num_perm)
        ]
    )
    return F.when(text_col.isNotNull(), sig)


def _banded(signatures: DataFrame, bands: int, rows_per_band: int) -> DataFrame:
    """(id, band_idx, band_key) rows — the SINGLE banding projection shared
    by the clique pair generator and the star edge generator, so the two
    can never band differently.  Validates the band geometry against the
    actual signature width: too-large would throw INVALID_ARRAY_INDEX
    mid-job under ANSI mode; too-small would silently ignore part of the
    signature (recall loss with no warning)."""
    sig_type = signatures.schema["signature"].dataType
    from pyspark.sql.types import ArrayType

    assert isinstance(sig_type, ArrayType)
    # Width check lives IN the plan (when/raise_error around the column the
    # bands read), not as a plan-construction sample: a .first() here was an
    # eager job that recomputed the whole signature subplan per call for
    # non-checkpointed inputs, and a one-row sample misses ragged widths.
    # This form costs one codegen comparison per row, validates every row,
    # and cannot be pruned away (its result IS the banded column source).
    expected = bands * rows_per_band
    # Dedicated NULL branch first: rowwise_minhash_signature yields NULL for
    # NULL text, and size(NULL) = -1 would otherwise produce a misleading
    # "-1 width" failure when a caller forgets the documented NULL filter.
    checked = (
        F.when(
            F.col("signature").isNull(),
            F.raise_error(
                F.lit(
                    "NULL signature row reached banding: filter NULL-text "
                    "rows before banding (rowwise_minhash_signature returns "
                    "NULL for NULL text)"
                )
            ),
        )
        .when(F.size("signature") == expected, F.col("signature"))
        .otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        f"bands*rows_per_band = {expected} must equal the "
                        "signature width "
                    ),
                    F.size("signature").cast("string"),
                    F.lit(" (pass matching num_perm to minhash_signatures)"),
                )
            )
        )
    )
    signatures = signatures.withColumn("signature", checked)
    # No checkpoint here: the signature agg sits under one exchange that
    # Catalyst reuses across both sides of every caller's band join
    # (verified: materializing the banding measured *slower* at sf0.1 —
    # unlike the multi-consumer shingle relation in _capped_shingles).
    return signatures.select(
        "id",
        F.posexplode(
            F.array(
                *[
                    F.concat_ws(
                        ":",
                        *[
                            F.element_at("signature", b * rows_per_band + r + 1)
                            for r in range(rows_per_band)
                        ],
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band_idx", "band_key"),
    )


def minhash_lsh_candidates(
    signatures: DataFrame,
    bands: int = 4,
    rows_per_band: int = 4,
) -> DataFrame:
    """LSH banding: split each signature into ``bands`` bands of
    ``rows_per_band`` values; docs sharing any band land in the same bucket;
    candidate pairs are generated bucket-locally via a self-join on
    (band_idx, band_key) — the standard shuffle-bounded MinHash-LSH plan.
    """
    banded = _banded(signatures, bands, rows_per_band)
    a = banded.alias("a")
    b = banded.alias("b")
    # MERGE hint (r13 spot-decade lesson): both sides of the band
    # self-join are the banded CORPUS, so the strategy must be
    # shuffle-on-bucket at any size — a checkpointed/exploded input's
    # size statistic underestimates and the planner would broadcast one
    # corpus side (the dd_winnow OOM class; fits at sf1, dies at 10×).
    return (
        a.join(b.hint("merge"), on=["band_idx", "band_key"])
        .where(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )


def write_lsh_band_index(
    signatures: DataFrame,
    path: str,
    bands: int = 4,
    rows_per_band: int = 4,
    mode: str = "overwrite",
) -> None:
    """Persist the banded LSH index — ``(id, band_key)`` rows partitioned
    by ``band_idx`` — the corpus-side artifact of incremental dedup.

    At 100 TB the corpus is signatured ONCE; every subsequent ingest batch
    probes this index instead of re-scanning corpus text (the batch-scale
    analog of the reference's query-first insert dedup,
    db_socket/helpers.py:317-406: "look up what exists, insert what's
    new").  Partitioning by band_idx keeps each band's bucket space in its
    own directory, so a probe join reads band files, never corpus text.

    ``mode="append"`` closes the ingest loop: probe the batch against the
    index (:func:`incremental_lsh_candidates`), then append the batch's own
    band rows so the NEXT batch dedups against it too — the index grows by
    batch size per ingest, the corpus is never re-signatured."""
    banded = _banded(signatures, bands, rows_per_band)
    banded.write.mode(mode).partitionBy("band_idx").parquet(path)


def incremental_lsh_candidates(
    spark,
    index_path: str,
    new_signatures: DataFrame,
    bands: int = 4,
    rows_per_band: int = 4,
) -> DataFrame:
    """Candidate near-dup pairs of an ingest batch: batch×corpus pairs via
    a probe join against the persisted band index, plus batch×batch pairs
    via a self-join — the corpus contributes only its (id, band) rows, its
    text and signatures are never recomputed.

    Output orientation: ``id_a`` = the already-indexed (or smaller batch)
    id, ``id_b`` = the new id.  The batch side is broadcast — the ingest
    shape (daily increment ≪ corpus), leaving the index scan
    shuffle-free."""
    index = spark.read.parquet(index_path).select("id", "band_idx", "band_key")
    probe = _banded(new_signatures, bands, rows_per_band)
    probe_b = F.broadcast(probe.withColumnRenamed("id", "id_b"))
    cross = (
        index.join(
            probe_b,
            on=["band_idx", "band_key"],
        )
        .where(F.col("id") != F.col("id_b"))
        .select(F.col("id").alias("id_a"), "id_b")
    )
    a = probe.alias("a")
    b = probe.alias("b")
    within = (
        a.join(b, on=["band_idx", "band_key"])
        .where(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
    )
    return cross.unionByName(within).dropDuplicates(["id_a", "id_b"])


def minhash_lsh_star_edges(
    signatures: DataFrame,
    bands: int = 4,
    rows_per_band: int = 4,
) -> DataFrame:
    """Star-contracted LSH edges for component finding: instead of the
    bucket-local *clique* (`minhash_lsh_candidates`, O(b²) pairs per bucket
    of size b), emit one edge per member to the bucket's representative
    (min doc id in the bucket) — a star.  The star and the clique have
    identical connected components (every member reaches every other via the
    rep), but the star's edge count is Σb — linear — which is what a 100 TB
    dedup graph needs: a single hot bucket of 10⁶ docs yields 10⁶ edges, not
    5·10¹¹.  Pair *scoring* still wants the clique (use
    `minhash_lsh_candidates`); clustering never does.

    Plan: band explode (codegen) → one min-agg per bucket (map-side
    combinable) → rebroadcast-free equi-join back on the bucket key →
    distinct (id, rep) edges.
    """
    banded = _banded(signatures, bands, rows_per_band)
    reps = banded.groupBy("band_idx", "band_key").agg(F.min("id").alias("rep"))
    return (
        banded.join(reps, on=["band_idx", "band_key"])
        .where(F.col("id") != F.col("rep"))
        .select(F.col("rep").alias("id_a"), F.col("id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )


def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 32,
    wide_hash: bool | None = None,
) -> DataFrame:
    """SimHash over token features: bit j of the hash is 1 iff the sum of
    ±1 votes (sign of bit j of each token's hash) is positive.

    Plan shape: explode distinct tokens → hash once → one groupBy(id) with
    ``bits`` sum aggregates (map-side combinable, codegen) → recombine the
    bit votes into one long.

    ``bits`` ≤ 32 rides the 32-bit portable base hash; wider signatures
    (corpus-scaled banding, r14) need more independent vote bits than 32,
    so ``bits`` in (32, 60] switches to the 60-bit base hash
    (``portable_hash60``).  ``wide_hash=True`` forces the 60-bit base even
    for small ``bits`` — the corpus-scaled query uses it so the signature
    CONSTRUCTION is identical at every scale factor and only the width
    varies (one oracle template, no per-scale hash branch)."""
    from .text import portable_hash60, tokens

    if bits > 60:
        raise ValueError(f"simhash supports at most 60 bits, got {bits}")
    if wide_hash is None:
        wide_hash = bits > 32
    base = portable_hash60 if wide_hash else portable_hash64
    tok = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(tokens(F.col(text_col)))).alias("_tk"),
    ).select("id", base(F.col("_tk")).alias("_h"))
    aggs = [
        F.sum(
            F.when(F.shiftright(F.col("_h"), j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{j}")
        for j in range(bits)
    ]
    votes = tok.groupBy("id").agg(*aggs)
    sim = F.lit(0).cast("long")
    for j in range(bits):
        sim = sim + F.when(F.col(f"b{j}") > 0, F.lit(2**j).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return votes.select("id", sim.alias("simhash"))


def contamination_report(
    corpus: DataFrame,
    bench: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 13,
) -> DataFrame:
    """Benchmark-decontamination scan: for each corpus document, how many of
    its distinct character ``k``-grams also occur anywhere in the benchmark
    set, plus the contaminated fraction.

    Shape: both sides reduce to (id, shingle) rows scan-side (codegen
    explode, same kernel as MinHash), the benchmark side collapses to a
    distinct-shingle set, and the join is shingle-bucket-local — the
    standard n-gram-overlap decontamination plan (k=13 following the
    GPT-3/PaLM convention).  At 100 TB the benchmark side is tiny compared
    to the corpus (eval suites, not training data) so Spark broadcasts it;
    corpus-side counts combine map-side.  No similarity math — containment
    is exact, which is what decontamination wants (a single leaked 13-gram
    is a hit).
    """
    c = shingle_rows(corpus, text_col, id_col, k, distinct=True)
    b = (
        shingle_rows(bench, text_col, id_col, k, distinct=True)
        .select("shingle")
        .dropDuplicates(["shingle"])
        .withColumn("_hit", F.lit(1).cast("long"))
    )
    # Single pass: broadcast-left-join the benchmark shingle set onto the
    # corpus shingles and fold totals + hits into ONE groupBy — the corpus
    # explode/dedup pipeline (the dominant cost) runs once, not twice.
    # b has distinct shingles, so the left join is row-preserving.
    joined = c.join(F.broadcast(b), on="shingle", how="left")
    n_hit = F.coalesce(F.sum("_hit"), F.lit(0).cast("long"))
    return joined.groupBy("id").agg(
        n_hit.alias("n_hit"),
        F.count(F.lit(1)).alias("n_shingles"),
    ).select(
        "id",
        "n_hit",
        "n_shingles",
        F.round(F.col("n_hit") / F.col("n_shingles"), 6).alias("hit_frac"),
    )


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    w: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, the MOSS
    algorithm): hash every character ``k``-gram, slide a window of ``w``
    consecutive hashes, keep the minimum of each window; the fingerprint set
    is the distinct per-window minima — ~2/(w+1) of all hashes, with the
    guarantee that any shared substring of length ≥ k+w-1 contributes at
    least one common fingerprint.

    Plan: codegen k-gram explode + portable hash (the MinHash kernel), one
    shuffle on the doc id for the ordered sliding-window min, then a
    distinct.  Window state is w rows — streamable; at 100 TB this is
    scan + one doc-keyed shuffle, same envelope as signature computation.

    Returns (id, fp) rows — one row per distinct selected fingerprint.
    """
    hashed = (
        df.select(
            F.col(id_col).alias("id"),
            normalize_ws(F.lower(F.col(text_col))).alias("_t"),
        )
        .select(
            "id",
            F.explode(
                F.sequence(
                    F.lit(1), F.greatest(F.length("_t") - F.lit(k - 1), F.lit(1))
                )
            ).alias("_i"),
            "_t",
        )
        .select(
            "id",
            "_i",
            portable_hash64(F.col("_t").substr(F.col("_i"), F.lit(k))).alias("_h"),
            (F.length("_t") - F.lit(k - 1)).alias("_n"),
        )
    )
    win = Window.partitionBy("id").orderBy("_i").rowsBetween(0, w - 1)
    return (
        hashed.withColumn("_wmin", F.min("_h").over(win))
        # only full windows define a fingerprint (positions 1..n-w+1)
        .where(F.col("_i") <= F.greatest(F.col("_n") - F.lit(w - 1), F.lit(1)))
        .select("id", F.col("_wmin").alias("fp"))
        .dropDuplicates(["id", "fp"])
    )


def winnow_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    w: int = 4,
    min_common: int = 2,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Near-dup candidate pairs from shared winnowing fingerprints: docs
    sharing ≥ ``min_common`` selected fingerprints.  Pair generation is
    fingerprint-bucket-local (equi-join on fp) — same shuffle envelope as
    the LSH band join, with winnowing's shared-substring guarantee instead
    of a probabilistic bound.

    ``max_doc_freq`` is the hot-fingerprint cap (the dd_jaccard_capped
    pattern, r13): a fingerprint selected by more than ``f`` documents is
    boilerplate (license headers, templates) and contributes O(f²) pair
    rows per bucket — the sf1→sf10 decade measured the uncapped join's
    output growing superlinearly (exponent +1.37) purely from such
    cross-document shared fingerprints.  The cap costs one extra
    map-combinable count aggregate and bounds every bucket's pair fan-out
    at ``f²``; production corpora should set it (≈100-1000), the default
    ``None`` keeps the exact exhaustive semantics the oracle replays."""
    # Materialize the fingerprint set once — the self-join would otherwise
    # re-run the explode+hash+window pipeline for both sides.  Lazy: the
    # first action both computes and persists it (no separate job).
    fps = winnow_fingerprints(df, text_col, id_col, k, w).localCheckpoint(eager=False)
    if max_doc_freq is not None:
        keep = (
            fps.groupBy("fp")
            .agg(F.count(F.lit(1)).alias("_df"))
            .where(F.col("_df") <= int(max_doc_freq))
            .select("fp")
        )
        fps = fps.join(keep.hint("merge"), on="fp")
    a, b = fps.alias("a"), fps.alias("b")
    # MERGE hint: the checkpointed fp relation's size statistic is the
    # PRE-materialization estimate (scan-projection-sized), so the planner
    # happily broadcast the corpus-sized fingerprint table — fine at sf1
    # (~0.7 GB build), fatal at sf10 (the r13 spot decade's dd_winnow OOM:
    # "Not enough memory to build and broadcast").  Both sides of this
    # self-join scale with the corpus by definition, so the join strategy
    # must be shuffle-on-fp at ANY size — exactly the LSH band join's
    # exchange envelope, never a broadcast.
    return (
        a.join(b.hint("merge"), on="fp")
        .where(F.col("a.id") < F.col("b.id"))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
        .where(F.col("n_common") >= min_common)
    )


def cdc_chunks(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 16,
    mod: int = 64,
    min_len: int = 24,
) -> DataFrame:
    """Content-defined chunking (CDC): variable-boundary substring chunks
    whose cut points depend only on LOCAL content, never on document
    offset.

    The arbitrary-boundary complement to the fixed grids of
    :func:`span_fingerprints` (20-token spans): Lee et al. 2022
    ("Deduplicating Training Data Makes Language Models Better", arXiv
    2107.06499) remove duplicated substrings at ANY offset via a suffix
    array; a fixed grid misses a duplicate whose copies sit at different
    offsets modulo the grid.  CDC recovers the any-offset property the
    Spark-honest way: position ``i`` is a cut point iff
    ``hash(t[i:i+k]) % mod == 0``, so the cut points INSIDE a duplicated
    passage are identical in every copy regardless of where the passage
    starts, and every interior chunk is byte-identical across copies.
    Expected chunk length is ``mod`` chars; a duplicated passage of length
    L contributes ~L/mod interior chunks and is caught (no alignment
    assumption) once it spans ≳ 2·mod + k chars.

    Plan (100 TB story): the position explode + k-gram hash is the
    winnowing kernel — pure codegen, O(total chars) generator rows,
    scan-side; the anchor predicate keeps ~1/mod of positions BEFORE the
    only wide operation (a groupBy on the doc id collecting the tiny
    per-doc cut list, ~len/mod ints), so the shuffle carries anchor
    positions, never text.  The text column crosses the cluster exactly
    once, in the doc-keyed join that slices chunks; chunk slicing and
    fingerprinting are map-side after that join.

    Returns (id, start, length, chunk_fp) — one row per chunk of length ≥
    ``min_len``; ``chunk_fp`` = md5 of the chunk text (collision-free for
    dedup purposes, engine-portable).

    Memory bound: the per-doc cut list is ~len/mod ints materialized in one
    aggregation row — ~1.3 MB for a 10 MB doc at mod=64, comfortable for
    any web/LLM corpus (docs are pre-chunked upstream); for pathological
    GB-scale single documents raise ``mod`` or split the doc first.
    """
    # The anchor aggregation is keyed by (id, md5(text)), not id alone: an
    # input with duplicate doc_id rows carrying DIFFERENT text must get one
    # cut list per distinct text, or the combined list would slice each copy
    # at the other's anchors (wrong fingerprints, out-of-range substr
    # starts) and silently break byte parity with rowwise_cdc_chunks, which
    # chunks per ROW.  md5 is a deterministic surrogate, so the key is
    # stable across the two scans of `t` (a monotonically_increasing_id
    # would not be under retries/AQE).  Duplicate (id, text) pairs join to
    # one shared cut list and each copy emits its own (correct) chunk rows.
    t = df.select(
        F.col(id_col).alias("id"),
        normalize_ws(F.lower(F.col(text_col))).alias("_t"),
    ).where(F.length("_t") >= F.lit(k)).withColumn("_th", F.md5(F.col("_t")))
    # Candidate cut positions 2..n-k+1 (position 1 is always a cut — the
    # doc start — appended below, so the sequence skips it).
    anchors = (
        t.select(
            "id",
            "_th",
            "_t",
            F.explode(
                # greatest(..., 2) keeps the sequence ascending for len==k
                # docs (sequence(2,1) would DESCEND and emit position 1);
                # the _i <= n-k+1 guard below drops the padding row.
                F.sequence(F.lit(2), F.greatest(F.length("_t") - F.lit(k - 1), F.lit(2)))
            ).alias("_i"),
        )
        .where(F.col("_i") <= F.length("_t") - F.lit(k - 1))
        .where(
            F.pmod(
                portable_hash64(F.col("_t").substr(F.col("_i"), F.lit(k))), F.lit(mod)
            )
            == 0
        )
        .select("id", "_th", "_i")
    )
    # collect_set, not collect_list: duplicate (id, text) input rows explode
    # identical anchor positions once per copy; the set keeps the shared cut
    # list duplicate-free.  Bounded by construction (~len/mod ints).
    cuts = anchors.groupBy("id", "_th").agg(
        F.sort_array(F.collect_set("_i")).alias("_c")
    )
    with_cuts = t.join(cuts, on=["id", "_th"], how="left").select(
        "id",
        "_t",
        F.concat(
            F.array(F.lit(1)), F.coalesce(F.col("_c"), F.array().cast("array<int>"))
        ).alias("_cuts"),
    )
    return (
        with_cuts.select("id", "_t", "_cuts", F.posexplode("_cuts").alias("_j", "_s"))
        .withColumn(
            "_e",
            F.when(
                F.col("_j") + 2 <= F.size("_cuts"),
                F.element_at("_cuts", F.col("_j") + 2),
            ).otherwise(F.length("_t") + 1),
        )
        .select(
            "id",
            F.col("_s").alias("start"),
            (F.col("_e") - F.col("_s")).alias("length"),
            F.md5(
                F.col("_t").substr(F.col("_s"), F.col("_e") - F.col("_s"))
            ).alias("chunk_fp"),
        )
        .where(F.col("length") >= F.lit(min_len))
    )


def cdc_duplicate_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 16,
    mod: int = 64,
    min_len: int = 24,
) -> DataFrame:
    """Duplicated substrings at ARBITRARY offsets: every CDC chunk whose
    fingerprint appears in ≥ 2 distinct documents — the removal-ready span
    list of the Lee et al. 2022 exact-substring dedup family (see
    :func:`cdc_chunks` for why the boundaries are offset-invariant).

    Two extra shuffles beyond chunking, BOTH map-combinable: doc frequency
    is ``distinct(chunk_fp, id)`` → ``count per chunk_fp`` (partial
    aggregation collapses each fingerprint to one row per map task before
    the exchange), then the ≥2 survivors join back to the chunk rows on
    ``chunk_fp``.  Nothing ever materializes a per-fingerprint set: a
    boilerplate chunk shared by 10⁸ documents contributes 10⁸ count-1 rows
    that combine map-side, not one 10⁸-element array in a single window
    task — the same rank-only/combiner discipline as
    :func:`span_dedup_stats` (which the previous ``collect_set`` window
    here violated).

    Returns (id, start, length, chunk_fp, n_docs).
    """
    # Lazy checkpoint: the chunk relation feeds both the frequency
    # aggregation and the join-back; without it the position-explode
    # chunking pipeline would run twice (same rationale as winnow_pairs).
    chunks = cdc_chunks(df, text_col, id_col, k, mod, min_len).localCheckpoint(
        eager=False
    )
    freq = (
        chunks.select("chunk_fp", "id")
        .distinct()
        .groupBy("chunk_fp")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .where(F.col("n_docs") >= 2)
    )
    return chunks.join(freq, on="chunk_fp").select(
        "id", "start", "length", "chunk_fp", "n_docs"
    )


def cross_corpus_lsh_pairs(
    left_sigs: DataFrame,
    right_sigs: DataFrame,
    bands: int = 4,
    rows_per_band: int = 4,
) -> DataFrame:
    """LSH band collisions BETWEEN two corpora — (id_a from left, id_b from
    right) pairs sharing ≥ 1 band, with no within-corpus pairs generated at
    all (the cross-only variant of :func:`minhash_lsh_candidates`).

    The near-dup arm of benchmark decontamination: exact n-gram leak scans
    (:func:`contamination_report`) miss paraphrase-level leakage — an eval
    item with small edits shares MinHash bands but not 13-grams.  The right
    side (benchmark/eval suite) is broadcast by construction — orders of
    magnitude smaller than the corpus — so the corpus-side band projection
    never shuffles."""
    lb = _banded(left_sigs, bands, rows_per_band)
    rb = F.broadcast(
        _banded(right_sigs, bands, rows_per_band).withColumnRenamed("id", "id_b")
    )
    return (
        lb.join(rb, on=["band_idx", "band_key"])
        .select(F.col("id").alias("id_a"), "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )


def rowwise_cdc_chunks(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 16,
    mod: int = 64,
    min_len: int = 24,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Shuffle-free per-row CDC chunking — the STREAMING arm's projection.

    Byte-identical output to :func:`cdc_chunks` (parity-pinned in tests):
    the cut list is computed per row with a higher-order ``filter`` over
    the position sequence instead of explode+groupBy+join, so it needs no
    aggregation or join and runs on an unbounded stream.  The trade is
    CPU: HOF lambdas evaluate interpreted, ~10× the codegen explode kernel
    (measured, SCALE.md round-6 A/B) — right for per-microbatch arrival
    volumes, wrong for corpus-scale batch (use :func:`cdc_chunks` there).
    ``extra_cols`` (e.g. the event-time column) are carried through for
    the stream's watermark."""
    t = df.select(
        F.col(id_col).alias("id"),
        *[F.col(c) for c in extra_cols],
        normalize_ws(F.lower(F.col(text_col))).alias("_t"),
    ).where(F.length("_t") >= F.lit(k))
    nk = F.length("_t") - F.lit(k - 1)
    anchors = F.filter(
        F.sequence(F.lit(2), F.greatest(nk, F.lit(2))),
        lambda i: (i <= nk)
        & (
            F.pmod(portable_hash64(F.col("_t").substr(i, F.lit(k))), F.lit(mod))
            == F.lit(0)
        ),
    )
    with_cuts = t.select(
        "id", *extra_cols, "_t", F.concat(F.array(F.lit(1)), anchors).alias("_cuts")
    )
    return (
        with_cuts.select(
            "id", *extra_cols, "_t", "_cuts", F.posexplode("_cuts").alias("_j", "_s")
        )
        .withColumn(
            "_e",
            F.when(
                F.col("_j") + 2 <= F.size("_cuts"),
                F.element_at("_cuts", F.col("_j") + 2),
            ).otherwise(F.length("_t") + 1),
        )
        .select(
            "id",
            *extra_cols,
            F.col("_s").alias("start"),
            (F.col("_e") - F.col("_s")).alias("length"),
            F.md5(
                F.col("_t").substr(F.col("_s"), F.col("_e") - F.col("_s"))
            ).alias("chunk_fp"),
        )
        .where(F.col("length") >= F.lit(min_len))
    )


def write_cdc_chunk_index(
    df: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 16,
    mod: int = 64,
    min_len: int = 24,
    mode: str = "overwrite",
) -> None:
    """Persist the corpus chunk table — (id, start, length, chunk_fp) from
    :func:`cdc_chunks` — the CDC analog of :func:`write_lsh_band_index`:
    the corpus is chunked ONCE at ingest and every subsequent batch probes
    fingerprints, never corpus text.  Stored flat (the probe join
    broadcasts the batch side, so partition pruning buys nothing here);
    column pruning reduces the probe scan to the ``chunk_fp`` column.

    ``mode="append"`` closes the ingest loop: probe the batch
    (:func:`incremental_cdc_duplicates`), then append the batch's chunks so
    the next batch dedups against them — first-occurrence-wins extends
    across ingests without ever re-chunking history."""
    cdc_chunks(df, text_col, id_col, k, mod, min_len).write.mode(mode).parquet(path)


def incremental_cdc_duplicates(
    spark,
    index_path: str,
    new_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 16,
    mod: int = 64,
    min_len: int = 24,
) -> DataFrame:
    """Duplicated-substring spans of an ingest batch: every CDC chunk of
    ``new_docs`` whose content already exists in the indexed corpus or in
    a lower-id batch document — the incremental arm of
    :func:`cdc_duplicate_spans` (same any-offset guarantee; the corpus is
    never re-chunked, only its fingerprint column is read).

    The batch chunk table is broadcast — the ingest shape (daily
    increment ≪ corpus), leaving the index scan shuffle-free.  Returns
    (id, start, length, chunk_fp) rows for the batch docs only.
    """
    probe = cdc_chunks(new_docs, text_col, id_col, k, mod, min_len).localCheckpoint(
        eager=False
    )
    index_fp = spark.read.parquet(index_path).select("chunk_fp")
    vs_corpus = (
        index_fp.join(F.broadcast(probe), on="chunk_fp")
        .select("id", "start", "length", "chunk_fp")
    )
    a, b = probe.alias("a"), probe.alias("b")
    within = (
        a.join(b, on="chunk_fp")
        .where(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("b.id").alias("id"),
            F.col("b.start").alias("start"),
            F.col("b.length").alias("length"),
            "chunk_fp",
        )
    )
    return vs_corpus.unionByName(within).dropDuplicates(["id", "start"])


def scaled_band_bits(
    n_docs: int,
    bands: int = 4,
    target_bucket_docs: int = 8,
    min_bits: int = 8,
    max_bits: int = 15,
) -> int:
    """Per-band bit width for corpus-scaled SimHash banding (r13 VERDICT
    item 3): the band bucket space ``2^w`` must grow with the corpus or
    bucket populations — and thus the bucket-local pair join's output —
    grow superlinearly from birthday collisions alone (the sf10 decade
    measured exponent 1.31 on the fixed-width setting as the corpus
    passed ~10⁶ rows).

    ``w = clamp(ceil(log2(n_docs / target_bucket_docs)), min_bits,
    max_bits)`` puts the EXPECTED bucket population of hash-random (i.e.
    non-duplicate) signatures at ≤ ``target_bucket_docs``: bucket load ≈
    n / 2^w ≤ target, so per-bucket pair work is O(target²) and the total
    candidate volume from collisions is linear in the corpus.  True
    near-dup pairs are unaffected — pigeonhole exhaustiveness
    (``max_hamming ≤ bands - 1``) depends only on the band COUNT, never
    the width.  ``max_bits=15`` because the signature is ``bands × w``
    bits and the portable wide hash is 60-bit (4 × 15); past ~10⁶ × 2^15
    docs, add bands (and raise max_hamming coverage) rather than width."""
    import math

    if n_docs <= target_bucket_docs:
        return min_bits
    w = math.ceil(math.log2(n_docs / target_bucket_docs))
    return max(min_bits, min(max_bits, w))


def simhash_candidate_pairs(
    signatures: DataFrame,
    bands: int = 4,
    bits: int = 32,
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs from SimHash signatures with Hamming distance ≤
    ``max_hamming``, found by banded self-join — and found EXACTLY: with
    ``bands`` equal bit-slices, any pair differing in ≤ bands-1 bits shares
    at least one identical band (pigeonhole), so the band equi-join is a
    complete candidate generator for ``max_hamming ≤ bands - 1``, not a
    probabilistic one.  Pair generation stays bucket-local (join key =
    (band index, band value)); the exact popcount filter runs only on
    bucket-local candidates.  This is the standard Google-crawl simhash
    dedup plan; at 100 TB the band columns are written at ingest and the
    join shuffles on band buckets whose size ~ corpus / 2^(bits/bands).
    """
    if max_hamming > bands - 1:
        raise ValueError(
            f"banded search is only exhaustive for max_hamming <= bands-1 "
            f"({bands} bands cover <= {bands - 1} differing bits)"
        )
    w = bits // bands
    mask = (1 << w) - 1
    # No checkpoint: the signature agg's exchange is reused by Catalyst
    # across both self-join sides (measured; see _banded note).
    banded = signatures.select(
        "id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("simhash"), i * w).bitwiseAND(F.lit(mask))
                    for i in range(bands)
                ]
            )
        ).alias("_band_idx", "_band_key"),
    )
    a, b = banded.alias("a"), banded.alias("b")
    # MERGE hint: corpus-sized on both sides — shuffle on the band
    # bucket at any size, never a stats-misled broadcast (r13).
    return (
        a.join(
            b.hint("merge"),
            (F.col("a._band_idx") == F.col("b._band_idx"))
            & (F.col("a._band_key") == F.col("b._band_key"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            # popcount BEFORE the pair-dedup: the xor is free codegen on
            # join output, and filtering first means the dropDuplicates
            # shuffle carries only matching pairs, not every multi-band
            # candidate collision.
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
    )


def source_overlap_matrix(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """Cross-source exact-duplicate overlap matrix — the curation question
    "how much of source A is already in source B" (CommonCrawl vs
    Wikipedia vs books is the canonical instance) answered with one tiny
    join: per (source_a, source_b), the number of shared content
    fingerprints, both sources' distinct-fingerprint counts, and the
    fingerprint-set Jaccard.

    Scale shape: ``distinct(fingerprint, source)`` is one map-combinable
    shuffle whose cardinality is ≤ corpus; the self-join on the
    fingerprint is bucket-local with per-fingerprint work bounded by
    (#sources carrying it)² — #sources is a small dimension, so no
    fingerprint group can blow up regardless of how duplicated the
    content is.  The per-source size table is #sources rows and
    broadcast; the output enumerates EVERY source pair (zero-overlap
    pairs included, shared_fps = 0) — a matrix with holes is not a
    matrix, and the pair skeleton is a broadcast self-pairing of the
    #sources-row dimension, constant-size by construction.  Uses the same
    canonical :func:`fingerprint` as :func:`exact_dedup`, so "duplicate"
    means exactly what the dedup pass means by it.
    """
    fps = (
        df.where(F.col(text_col).isNotNull())
        .select(
            fingerprint(F.col(text_col)).alias("fp"),
            F.col(source_col).alias("source"),
        )
        .distinct()
    )
    sizes = fps.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    a, b = fps.alias("a"), fps.alias("b")
    pairs = (
        a.join(b, on="fp")
        .where(F.col("a.source") < F.col("b.source"))
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).alias("shared_fps"))
    )
    sa = F.broadcast(sizes.select(F.col("source").alias("source_a"), F.col("n").alias("n_a")))
    sb = F.broadcast(sizes.select(F.col("source").alias("source_b"), F.col("n").alias("n_b")))
    skeleton = sa.join(sb, F.col("source_a") < F.col("source_b"))
    return (
        skeleton.join(pairs, on=["source_a", "source_b"], how="left")
        .select(
            "source_a",
            "source_b",
            F.coalesce(F.col("shared_fps"), F.lit(0)).alias("shared_fps"),
            "n_a",
            "n_b",
            F.round(
                F.coalesce(F.col("shared_fps"), F.lit(0))
                / (F.col("n_a") + F.col("n_b") - F.coalesce(F.col("shared_fps"), F.lit(0))),
                6,
            ).alias("jaccard"),
        )
    )


def minhash_estimate_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bands: int = 4,
    rows_per_band: int = 4,
    num_perm: int = _NUM_PERM_DEFAULT,
) -> DataFrame:
    """Signature-agreement Jaccard ESTIMATES for the LSH candidate pairs —
    (id_a, id_b, est_jaccard) where the estimate is the fraction of the
    ``num_perm`` MinHash components the two signatures share (the unbiased
    MinHash estimator, Broder 1997).

    The pipeline role: candidates come out of banding in volume; ranking
    or thresholding them on the ESTIMATE costs a zip over two
    num_perm-int arrays per pair — no text hydration, no shingle
    re-explode — and only the survivors go to an exact verify pass
    (:func:`ngram_jaccard_pairs` for set truth, ``q_dd_lev_verify`` for
    edit distance).  At 100 TB that ordering is the difference between
    verifying every band collision and verifying the few percent that
    matter.

    Plan: signatures are computed ONCE (lazy checkpoint) and feed both the
    banding and the two pair-side signature joins; the component
    comparison is a JVM higher-order zip over 16-int arrays (interpreted,
    but per-pair constant work — no shuffle beyond the id-keyed signature
    joins, both map-combinable equi-joins).
    """
    sigs = minhash_signatures(
        df, text_col, id_col, num_perm=num_perm
    ).localCheckpoint(eager=False)
    cand = minhash_lsh_candidates(sigs, bands, rows_per_band)
    sa = sigs.select(F.col("id").alias("id_a"), F.col("signature").alias("_sa"))
    sb = sigs.select(F.col("id").alias("id_b"), F.col("signature").alias("_sb"))
    matches = F.aggregate(
        F.zip_with("_sa", "_sb", lambda x, y: F.when(x == y, 1).otherwise(0)),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    # MERGE hints: the signature relations are the corpus and the
    # candidate list is corpus-proportional — both hydration joins
    # shuffle on the id key; nothing here may broadcast on a
    # checkpoint-misled size estimate (r13).
    return (
        cand.join(sa.hint("merge"), on="id_a")
        .join(sb.hint("merge"), on="id_b")
        .select(
            "id_a",
            "id_b",
            F.round(matches / F.lit(float(num_perm)), 6).alias("est_jaccard"),
        )
    )


def cluster_representatives(
    labeled: DataFrame,
    id_col: str = "id",
    cluster_col: str = "cluster_id",
    score_col: str = "score",
) -> DataFrame:
    """Quality-aware representative per near-dup cluster — the "which copy
    do we keep" step that follows clustering in a training-data dedup
    pipeline.  ``dd_cluster`` keeps ``id == cluster_id`` (smallest id);
    this keeps the HIGHEST-QUALITY member instead (ties → smallest id),
    so boilerplate-mangled copies lose to the clean original.

    Input: one row per document with its cluster label and a quality
    score.  Output: one row per cluster — (cluster_id, rep_id,
    rep_score, n_members).

    100 TB story: ONE map-combinable hash aggregate on the cluster key.
    The argmax is ``max_by`` over a (score, -id) struct, which combines
    map-side like any max — no window, no sort, and the exchange carries
    one candidate row per cluster per input partition.  Compare the
    window-rank formulation, which would shuffle every member row to its
    cluster's reducer; a mega-cluster (the boilerplate blob every real
    corpus has) makes that reducer the straggler, while max_by keeps it
    O(partitions) rows.
    """
    ordkey = F.struct(
        F.col(score_col).alias("s"), (-F.col(id_col)).alias("negid")
    )
    return labeled.groupBy(F.col(cluster_col).alias("cluster_id")).agg(
        F.max_by(F.col(id_col), ordkey).alias("rep_id"),
        F.max(F.col(score_col)).alias("rep_score"),
        F.count(F.lit(1)).alias("n_members"),
    )


def leakproof_split(
    labeled: DataFrame,
    id_col: str = "id",
    cluster_col: str = "cluster_id",
    train_pct: int = 80,
    valid_pct: int = 10,
    seed: int = 0,
) -> DataFrame:
    """Leakage-safe train/valid/test assignment: the split is a
    deterministic hash of the near-dup CLUSTER label, not of the document
    id — so a document and all its near-duplicates always land in the
    same split, and the eval set can never contain a paraphrase of a
    training row (the classic benchmark-leak failure a random per-doc
    split invites).

    Buckets: ``portable_hash64('split:' seed ':' cluster_id) % 100`` —
    < train_pct → train, < train_pct+valid_pct → valid, else test.
    Reseeding redraws the assignment; re-running reproduces it exactly.

    100 TB story: pure scan-side arithmetic — after the cluster labels
    exist the split adds ZERO shuffles (no sampling pass, no global
    count), and the proportions hold by the uniformity of the hash over
    clusters.  Singleton clusters dominate real corpora, so per-split
    row shares stay close to the nominal percentages even though the
    unit of assignment is the cluster.
    """
    bucket = F.pmod(
        portable_hash64(
            F.concat_ws(
                ":",
                F.lit("split"),
                F.lit(str(seed)),
                F.col(cluster_col).cast("string"),
            )
        ),
        F.lit(100),
    )
    split = (
        F.when(bucket < train_pct, F.lit("train"))
        .when(bucket < train_pct + valid_pct, F.lit("valid"))
        .otherwise(F.lit("test"))
    )
    return labeled.select(
        F.col(id_col), F.col(cluster_col), split.alias("split")
    )


def prefix_filter_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
) -> DataFrame:
    """ALL pairs with token-set Jaccard ≥ ``threshold``, via prefix
    filtering (the AllPairs/PPJoin candidate rule, Bayardo et al. 2007 /
    Xiao et al. 2008) — the third candidate-generation strategy beside
    MinHash-LSH (probabilistic) and the df-capped shingle join
    (conservative): prefix filtering is EXACT, no recall loss and no cap
    tuning.

    Rule: order each doc's distinct tokens globally by (document
    frequency asc, token asc) and keep only the first
    ``n - ceil(t*n) + 1`` — two sets with Jaccard ≥ t MUST share at least
    one prefix token (if all prefix tokens differ, the overlap is
    confined to the suffixes, too small by counting).  Candidates =
    pairs sharing ≥ 1 prefix token; each is verified with the exact
    intersection count, so the output is exactly the ≥ t pairs.

    100 TB story: the candidate join is bucket-local on the PREFIX token,
    and df-ordering puts every hot token (stopwords, boilerplate) at the
    END of its documents' orderings — outside most prefixes — so bucket
    fan-out concentrates on RARE tokens with tiny document lists: the f²
    blowup the capped join must cut by hand is avoided by construction.
    Shuffles: token-df aggregate (map-combinable), a doc-keyed rank-only
    window, the prefix self-join, and one exact-verify count — all keyed,
    no window buffers any set.
    """
    if not (0.0 < threshold <= 1.0):
        raise ValueError("threshold must be in (0, 1]")
    tok = (
        df.where(F.col(text_col).isNotNull())
        .select(
            F.col(id_col).alias("id"),
            F.explode(
                F.array_distinct(
                    F.filter(
                        F.split(
                            F.lower(
                                F.trim(F.regexp_replace(F.col(text_col), r"\s+", " "))
                            ),
                            " ",
                        ),
                        lambda t: t != F.lit(""),
                    )
                )
            ).alias("token"),
        )
    )
    sizes = tok.groupBy("id").agg(F.count(F.lit(1)).alias("n"))
    docfreq = tok.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    ranked = (
        tok.join(docfreq, "token")
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("id").orderBy(
                    F.col("df").asc(), F.col("token").asc()
                )
            ),
        )
        .join(sizes, "id")
    )
    prefix_len = (
        F.col("n") - F.ceil(F.lit(float(threshold)) * F.col("n")) + 1
    ).cast("long")
    prefix = ranked.where(F.col("rk") <= prefix_len).select("id", "token")
    cand = (
        prefix.alias("a")
        .join(prefix.alias("b"), on="token")
        .where(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    ta = tok.select(F.col("id").alias("id_a"), "token")
    tb = tok.select(F.col("id").alias("id_b"), "token")
    common = (
        cand.join(ta, "id_a")
        .join(tb, ["id_b", "token"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    na = sizes.select(F.col("id").alias("id_a"), F.col("n").alias("n_a"))
    nb = sizes.select(F.col("id").alias("id_b"), F.col("n").alias("n_b"))
    return (
        common.join(na, "id_a")
        .join(nb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("common")
                / (F.col("n_a") + F.col("n_b") - F.col("common")).cast("double"),
                6,
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )
