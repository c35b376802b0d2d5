"""Text-analysis operators for training-data curation: language ID,
quality scoring, document fingerprinting.

All pure column expressions / relational plans — each has a DuckDB
oracle in plans/queries.py. At 100 TB these run inside the same scan
as any other projection (no extra shuffle except the explicit
groupBys noted per operator).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

# lang → stopword seed (public knowledge; deliberately tiny — the
# operator shape matters, swap lexicons freely)
LANG_LEXICON: dict[str, list[str]] = {
    "en": ["the", "and", "of", "is", "a", "to", "in", "it", "that", "for"],
    "de": ["der", "die", "das", "und", "ein", "ist", "zu", "von", "mit", "nicht"],
    "fr": ["le", "la", "les", "et", "un", "est", "de", "du", "pour", "que"],
    "es": ["el", "la", "los", "las", "y", "es", "de", "un", "por", "que"],
}

STOPWORDS_EN = LANG_LEXICON["en"]

# whitespace words | numbers | punctuation runs — a BPE-ish pre-token
# split, identical RE2/Java semantics (no lookarounds)
TOKEN_PATTERN = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"


def _words(text_col) -> F.Column:
    return F.filter(F.split(text_col, " "), lambda w: w != "")


def quality_features(docs: DataFrame) -> DataFrame:
    """Per-doc prose-quality signals: token count, mean word length,
    vocabulary richness, stopword density, repetition (Gopher-style
    most-frequent-n-gram share, Rae et al. 2021 §A1.1), composite
    quality score. The word array is materialized once per row — four
    inlined copies of the split would each re-split the document.

    The repetition signals are explode → groupBy counts (codegen,
    map-side combinable: the shuffle carries one row per DISTINCT
    (doc, gram), not per occurrence) rather than per-row HOF counting,
    which is O(words x distinct) interpreted. Spark interprets
    higher-order array functions but runs explode + groupBy under
    whole-stage codegen, so at word fan-out (~10^2 rows per doc, a
    combinable aggregate after it) explode wins."""
    # Single tokenization pass: every signal — including the former
    # array-expression features — is derivable from the per-(doc, gram)
    # count relation, so the document is split exactly once, there is
    # no doc-grain join, and both groupBys partial-aggregate map-side
    # (the shuffle carries one row per DISTINCT gram, not occurrence).
    w = _words(F.col("text"))
    n_w = F.size(w)
    tagged = F.concat(
        F.transform(w, lambda x: F.struct(F.lit("u").alias("k"), x.alias("g"))),
        F.transform(
            F.zip_with(
                F.slice(w, 1, F.greatest(n_w - 1, F.lit(0))),
                F.slice(w, 2, F.greatest(n_w - 1, F.lit(0))),
                lambda a, b: F.concat_ws(" ", a, b),
            ),
            lambda x: F.struct(F.lit("b").alias("k"), x.alias("g")),
        ),
    )
    grams = docs.select(
        "doc_id",
        F.length("text").alias("n_chars"),
        # explode_outer: an empty document keeps its (null-gram) row
        F.explode_outer(tagged).alias("t"),
    ).select("doc_id", "n_chars", F.col("t.k").alias("k"), F.col("t.g").alias("g"))
    counts = grams.groupBy("doc_id", "n_chars", "k", "g").agg(F.count("*").alias("c"))
    u = F.col("k") == "u"
    uc = F.when(u, F.col("c"))
    feats = counts.groupBy("doc_id", "n_chars").agg(
        F.coalesce(F.sum(uc), F.lit(0)).alias("n_words"),
        (F.max(uc) / F.sum(uc)).alias("raw_top_word"),
        (F.max(F.when(~u, F.col("c"))) / F.sum(F.when(~u, F.col("c")))).alias("raw_top_bigram"),
        F.coalesce(F.sum(F.when(u, 1)), F.lit(0)).alias("n_distinct"),  # rows are distinct grams
        F.coalesce(F.sum(F.when(u & F.col("g").isin(*STOPWORDS_EN), F.col("c"))), F.lit(0)).alias("n_stop"),
    )
    n_words = F.col("n_words")
    # NOTE no round(): these are deterministic int divisions, so the
    # raw doubles are bit-identical across engines — round() is NOT
    # (Spark BigDecimal HALF_UP vs DuckDB's C rounding differ at float
    # representation boundaries)
    return feats.select(
        "doc_id",
        n_words.cast("bigint").alias("n_words"),
        (F.col("n_chars") / F.greatest(n_words, F.lit(1))).alias("mean_word_len"),
        (F.col("n_distinct") / F.greatest(n_words, F.lit(1)).cast("double")).alias("distinct_ratio"),
        (F.col("n_stop") / F.greatest(n_words, F.lit(1)).cast("double")).alias("stop_ratio"),
        F.coalesce("raw_top_word", F.lit(0.0)).alias("top_word_frac"),
        F.coalesce("raw_top_bigram", F.lit(0.0)).alias("top_bigram_frac"),
    ).withColumn(
        "quality",
        F.least(F.col("n_words") / F.lit(100.0), F.lit(1.0)) * 0.4
        + F.col("stop_ratio") * 2.0 * 0.3
        + F.col("distinct_ratio") * 0.3,
    )


def language_id(docs: DataFrame, extra_cols: dict | None = None) -> DataFrame:
    """Stopword-hit language ID: explode words, join a broadcast
    lexicon, argmax hits per doc (tie → lexicographic lang), docs with
    zero hits → 'und'.

    ``extra_cols`` ({name: Column over the docs row}) appends per-row
    expressions to the final per-doc select, riding the scan that the
    left join already pays — callers that want language + token counts
    in one result avoid a third scan and an extra join."""
    spark = docs.sparkSession
    lex = F.broadcast(
        spark.createDataFrame(
            [(lang, w) for lang, ws in LANG_LEXICON.items() for w in ws],
            schema="lang string, word string",
        )
    )
    words = docs.select("doc_id", F.explode(_words(F.col("text"))).alias("word"))
    hits = words.join(lex, "word").groupBy("doc_id", "lang").agg(F.count("*").alias("hits"))
    # argmax via min_by on (-hits, lang): max hits, ties to the
    # lexicographically smallest lang — identical to the former
    # row_number window but map-side combinable (no per-doc sort
    # shuffle; the hits table partial-aggregates before the exchange)
    best = hits.groupBy("doc_id").agg(
        F.min_by(
            F.struct(F.col("lang"), F.col("hits")),
            F.struct((-F.col("hits")).alias("nh"), F.col("lang")),
        ).alias("b")
    ).select("doc_id", F.col("b.lang").alias("lang"), F.col("b.hits").alias("hits"))
    base_cols = [F.col("doc_id")] + [
        expr.alias(name) for name, expr in (extra_cols or {}).items()
    ]
    return (
        docs.select(*base_cols)
        .join(best.select("doc_id", "lang", "hits"), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("lang"), F.lit("und")).alias("predicted_lang"),
            F.coalesce(F.col("hits"), F.lit(0)).cast("bigint").alias("lex_hits"),
            *[F.col(n) for n in (extra_cols or {})],
        )
    )


def fingerprint_kmin(docs: DataFrame, k: int = 4) -> DataFrame:
    """k-min-hash document fingerprint: the k smallest md5 shingle
    hashes joined into one string — a compact sketch whose equality
    implies near-duplication (bottom-k sketch).

    Shape note (measured, round 2): a per-row array-expression form
    (zero shuffle) is ~3.5× SLOWER locally because higher-order
    functions are interpreted while the explode path runs md5 and the
    window in whole-stage codegen; the shuffle here is the shingle
    table keyed by doc_id — the same volume minhash_signatures
    shuffles, which is the accepted cost for shingle-granularity
    sketches. (Contrast fingerprint_winnow, where the explode was
    per-CHARACTER and the array form wins 30×.)"""
    from .dedup import _hash64, shingles

    sh = shingles(docs).withColumn("h", _hash64(F.col("shingle")))
    w = W.partitionBy("doc_id").orderBy(F.asc("h"))
    topk = sh.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k)
    return topk.groupBy("doc_id").agg(
        F.concat_ws(
            "_", F.expr("transform(array_sort(collect_list(struct(rn, h))), x -> cast(x.h as string))")
        ).alias("fingerprint")
    )


def fingerprint_winnow(docs: DataFrame, k: int = 8, window: int = 4) -> DataFrame:
    """Winnowing document fingerprint (Schleimer et al., SIGMOD 2003):
    rolling k-gram char hashes; from every ``window`` consecutive
    hashes keep the minimum (right-most on ties, via position in the
    ordering) — the classic local-algorithm guarantee that any
    sufficiently long match between two documents shares a selected
    hash. Output: one row per distinct selected hash per document.

    Winnowing selects the minimum of EVERY window (rightmost on ties);
    since the output is the distinct hash set per document, the
    tie-break is irrelevant (tied candidates share the hash value), so
    the fingerprint set is exactly ``distinct(min(window_p))`` over all
    windows p. That makes the whole operator per-row array math —
    ZERO shuffles: the gram-hash array, the per-window minima, and the
    distinct all happen inside the row (doc_id is unique per input
    row), and the explode just lays out the result. At 100 TB this is
    a map-only stage; the round-1 formulation shuffled ~every
    character of the corpus through a doc_id window.
    """
    n_grams = (F.length(F.col("text")) - k + 1).cast("int")
    gram_hashes = F.transform(
        F.sequence(F.lit(1), n_grams),
        lambda i: F.conv(
            F.substring(F.md5(F.substring(F.col("text"), i, k).cast("binary")), 1, 8),
            16,
            10,
        ).cast("bigint"),
    )
    hs = F.when(n_grams >= 1, gram_hashes).otherwise(
        F.array().cast("array<bigint>")
    )
    # MATERIALIZE the gram-hash array as its own projection before the
    # window pass: higher-order functions are interpreted (no codegen
    # CSE), so inlining `hs` inside the outer transform's lambda would
    # re-evaluate every gram md5 once PER WINDOW — O(n²) md5 calls per
    # document (measured 37 s vs 1.5 s at sf0.1). Referencing the
    # computed column keeps it O(n); the multi-use reference also
    # stops CollapseProject from re-inlining it.
    with_hashes = docs.select("doc_id", hs.alias("hs"))
    hcol = F.col("hs")
    fps = F.array_distinct(
        F.when(
            F.size(hcol) >= window,
            F.transform(
                F.sequence(F.lit(window), F.size(hcol)),
                lambda p: F.array_min(F.slice(hcol, p - window + 1, window)),
            ),
        ).otherwise(F.array().cast("array<bigint>"))
    )
    return with_hashes.select("doc_id", F.explode(fps).alias("fingerprint"))
