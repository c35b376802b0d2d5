"""Deduplication operators for large-scale training-data pipelines.

All of these are pure DataFrame compositions (no Python UDFs): hashing
uses the JVM-side ``md5`` so the same operator runs identically at
100 TB, and every shuffle key is stated explicitly.

Operators:
  - exact_duplicates:   content-hash groupBy (exact dedup)
  - shingles:           word n-gram shingle table (the shared substrate)
  - ngram_jaccard_pairs: exact Jaccard over shingle sets via the
    MapReduce pattern (shingle-join → intersection counts → union by
    inclusion-exclusion) — no O(n²) cross join; cost is bounded by
    shingle co-occurrence.
  - minhash_signatures / minhash_band_pairs: MinHash + LSH banding —
    the scale path: candidate pairs come from equality joins on band
    keys, so the shuffle is by band key, never all-pairs.
  - simhash32: 32-bit SimHash per document via bit-vote aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F


def _hash64(col) -> F.Column:
    """Deterministic 56-bit integer from md5 (portable to the DuckDB
    oracle via ('0x' || substr(md5(x),1,14))::BIGINT)."""
    return F.conv(F.substring(F.md5(col.cast("binary")), 1, 14), 16, 10).cast("bigint")


def exact_duplicates(docs: DataFrame) -> DataFrame:
    """Exact dedup: one row per distinct content hash with the group
    size and canonical (minimum) id."""
    return (
        docs.groupBy(F.md5(F.col("text").cast("binary")).alias("text_hash"))
        .agg(
            F.min("doc_id").alias("canonical_id"),
            F.count("*").alias("n_docs"),
        )
    )


# shingle width in words (queries._SHINGLE_CTE, the DuckDB oracle,
# concatenates the same three words)
SHINGLE_N = 3


def shingles(docs: DataFrame) -> DataFrame:
    """Distinct word ``SHINGLE_N``-gram shingles per document (the
    substrate for Jaccard / MinHash). Pure SQL expressions — stays in
    codegen.

    The word array is MATERIALIZED as its own projection before the
    gram transform: higher-order-function lambdas are interpreted, so
    an inlined ``split(text)`` inside the lambda body would re-split
    the whole document once per gram — O(words²) per document (same
    trap as fingerprint_winnow's round-2 fix)."""
    words = docs.select("doc_id", F.split(F.col("text"), " ").alias("w"))
    w = F.col("w")
    # guard: Spark's sequence(0, -1) is DESCENDING [0,-1], not empty —
    # short docs must produce an empty gram array explicitly
    grams = F.when(
        F.size(w) >= SHINGLE_N,
        F.transform(
            F.sequence(F.lit(0), F.size(w) - SHINGLE_N),
            lambda i: F.concat_ws(
                " ", *[F.element_at(w, (i + k + 1).cast("int")) for k in range(SHINGLE_N)]
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    # per-doc dedup with array_distinct BEFORE the explode: a shingle
    # can only repeat within its own document row, so this is exactly
    # DISTINCT(doc_id, shingle) — without the full shuffle a global
    # .distinct() would cost (at 10^12 docs that shuffle is the
    # single biggest line item in the whole dedup job).
    return words.select(
        "doc_id", F.explode(F.array_distinct(grams)).alias("shingle")
    )


def ngram_jaccard_pairs(docs: DataFrame, threshold: float = 0.2) -> DataFrame:
    """Exact n-gram Jaccard similarity for all pairs sharing ≥1 shingle.

    MapReduce formulation: |A∩B| from a self-equi-join on shingle,
    |A∪B| = |A|+|B|−|A∩B|. The join shuffles by shingle — at corpus
    scale, drop ultra-frequent shingles first (they contribute pairs
    quadratically; a standard stop-shingle cut) — here a 1000-doc cap
    per shingle guards the same blowup.
    """
    sh = shingles(docs)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    # Broadcast the SMALL side only: the stop-shingle list (df > cap) is
    # tiny by construction — ultra-frequent shingles are few — whereas
    # the keep-list is ~every distinct shingle (unbounded at corpus
    # scale). left_anti drops the stop shingles without shuffling sh by
    # shingle twice. sizes joins stay unhinted: at 10^12 docs the
    # per-doc table is NOT broadcastable; AQE picks shuffle-hash joins.
    stop = (
        sh.groupBy("shingle").agg(F.count("*").alias("df")).filter(F.col("df") > 1000)
    )
    sh_f = sh.join(F.broadcast(stop.select("shingle")), "shingle", "left_anti")
    a = sh_f.select(F.col("doc_id").alias("a"), "shingle")
    b = sh_f.select(F.col("doc_id").alias("b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc_id").alias("b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(sa, "a")
        .join(sb, "b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")), 6
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )


# MinHash via affine permutations over a Mersenne-prime field: each
# shingle is md5-hashed ONCE, then h_j = (A_j·h + B_j) mod P gives the
# j-th permutation with two integer ops. This is the textbook
# construction (Broder '97) and is ~k× cheaper than hashing per
# permutation — the difference between 1M and 8M md5 calls per
# million shingles. Constants are fixed primes < 2^31 so A·h + B
# stays under 2^62 (no BIGINT overflow in Spark or DuckDB).
MINHASH_PRIME = 2147483647  # 2^31 − 1
MINHASH_A = [
    1103515245, 1299709, 15485863, 982451653,
    86028121, 433024223, 715225739, 2038074743,
    122949829, 533000401, 1645333507, 695089, 2017, 479001599, 87178291199 % MINHASH_PRIME, 999999937,
]
MINHASH_B = [
    12345, 543210, 998244353 % MINHASH_PRIME, 101, 7919, 900001, 65537, 2750159,
    15098923, 104729, 32452843, 49979687, 198491317, 295075153, 4222234741 % MINHASH_PRIME, 533000389,
]


def minhash_signatures(docs: DataFrame, k: int) -> DataFrame:
    """Wide MinHash signature per document: columns mh0..mh{k-1},
    mh_j = min over shingles of (A_j·md5_32(shingle) + B_j) mod P.
    One md5 per shingle, one shuffle (the groupBy), no row explosion."""
    if k > len(MINHASH_A):
        raise ValueError(f"k={k} exceeds the fixed constant pool ({len(MINHASH_A)})")
    sh = shingles(docs)
    h32 = (
        F.conv(F.substring(F.md5(F.col("shingle").cast("binary")), 1, 8), 16, 10).cast("bigint")
        % MINHASH_PRIME
    )
    hashed = sh.withColumn("h", h32)
    aggs = [
        F.min((F.lit(MINHASH_A[j]) * F.col("h") + F.lit(MINHASH_B[j])) % MINHASH_PRIME).alias(
            f"mh{j}"
        )
        for j in range(k)
    ]
    return hashed.groupBy("doc_id").agg(*aggs)


def minhash_band_pairs(docs: DataFrame, k: int = 8, band_size: int = 4) -> DataFrame:
    """LSH banding: documents sharing any band of ``band_size``
    consecutive minhashes become candidate pairs. The only shuffle is
    the equality join on (band_id, band_key) — this is what makes
    near-dedup feasible at 10^12 documents."""
    if k % band_size:
        raise ValueError(f"k={k} must be a multiple of band_size={band_size}")
    sig = minhash_signatures(docs, k)
    nb = k // band_size
    stack_args = []
    for bi in range(nb):
        cols = ", ".join(f"mh{j}" for j in range(bi * band_size, (bi + 1) * band_size))
        stack_args.append(f"{bi}, concat_ws('_', {cols})")
    bands = sig.selectExpr(
        "doc_id", f"stack({nb}, {', '.join(stack_args)}) as (band_id, band_key)"
    )
    a = bands.select(F.col("doc_id").alias("a"), "band_id", "band_key")
    b = bands.select(F.col("doc_id").alias("b"), "band_id", "band_key")
    return (
        a.join(b, ["band_id", "band_key"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )


def simhash32(docs: DataFrame) -> DataFrame:
    """32-bit SimHash: per bit position, words vote +1/−1 by their
    md5-hash bit; the sign of the vote sum sets the output bit.
    Bit extraction uses floor(h / 2^b) % 2 — portable to DuckDB
    (shift operators differ across dialects, power-of-two division
    does not)."""
    words = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("word")
    ).filter(F.col("word") != "")
    h32 = F.conv(F.substring(F.md5(F.col("word").cast("binary")), 1, 8), 16, 10).cast("bigint")
    hashed = words.withColumn("h", h32)
    bits = hashed.select(
        "doc_id",
        "h",
        F.explode(F.sequence(F.lit(0), F.lit(31))).alias("b"),
    ).withColumn(
        "vote",
        F.when((F.floor(F.col("h") / F.pow(F.lit(2.0), F.col("b"))) % 2) == 1, 1).otherwise(-1),
    )
    votes = bits.groupBy("doc_id", "b").agg(F.sum("vote").alias("v"))
    return votes.groupBy("doc_id").agg(
        F.sum(
            F.when(F.col("v") > 0, F.pow(F.lit(2.0), F.col("b")).cast("bigint")).otherwise(0)
        ).alias("simhash")
    )
